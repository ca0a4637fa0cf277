"""Engine scalar-function helpers.

Spark lacks a few functions the reference surface relies on (DataFusion
`date_bin` with an epoch anchor — reference src/query/mod.rs:676-679) and
a few vector/text primitives the LLM-pipeline operators need. All are
expressed as Catalyst column expressions (JVM-side, codegen-friendly) —
no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Timezone-independent epoch seconds for TIMESTAMP_NTZ columns.
_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_seconds(ts: Column | str) -> Column:
    """Whole seconds since epoch for an NTZ timestamp (no TZ dependence).

    Column inputs are used directly — stringifying via _jc.toString()
    and re-parsing with F.expr broke on aliased/derived Columns and
    crashed under Spark Connect (no _jc)."""
    c = F.expr(ts) if isinstance(ts, str) else ts
    return F.timestamp_diff("SECOND", F.expr(_EPOCH_NTZ), c)


def date_bin(ts: Column | str, bin_seconds: int, anchor_epoch: int = 0) -> Column:
    """DataFusion-compatible DATE_BIN: floor ts into bins of `bin_seconds`
    anchored at `anchor_epoch`, returned as epoch seconds (BIGINT).

    Reference generates `DATE_BIN('{interval}', ts, TIMESTAMP '…')`
    (src/query/mod.rs:676-679); we return the bin start as epoch seconds
    to keep cross-engine comparison exact. FLOOR, not CAST: truncation
    toward zero would put timestamps BEFORE the anchor one bin too high
    (bin start after the timestamp itself) and diverge from both
    DataFusion and the DuckDB oracle expression.
    """
    e = epoch_seconds(ts)
    return (
        F.floor((e - F.lit(anchor_epoch)) / F.lit(bin_seconds)) * bin_seconds
        + anchor_epoch
    ).cast("bigint")


def date_bin_sql(ts_expr: str, bin_seconds: int, anchor_epoch: int = 0) -> str:
    """Spark SQL string form of date_bin (for generated product SQL)."""
    e = f"timestampdiff(SECOND, {_EPOCH_NTZ}, {ts_expr})"
    return (
        f"(CAST(FLOOR(({e} - {anchor_epoch}) / {bin_seconds}) AS BIGINT) "
        f"* {bin_seconds} + {anchor_epoch})"
    )


def duckdb_date_bin_sql(ts_expr: str, bin_seconds: int, anchor_epoch: int = 0) -> str:
    """The DuckDB-equivalent expression (used by oracle SQL only)."""
    e = f"CAST(floor(epoch({ts_expr})) AS BIGINT)"
    return (
        f"(CAST(floor(({e} - {anchor_epoch}) / {bin_seconds}) AS BIGINT) "
        f"* {bin_seconds} + {anchor_epoch})"
    )


def as_double_array(col: Column | str) -> Column:
    """Cast array<float> → array<double> for exact, engine-portable math."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two array<double> columns.

    Left-to-right fold => deterministic double result, bit-comparable to
    any engine that also folds sequentially.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI ArithmeticException, not NaN) for zero-norm
    inputs: under this repo's ANSI sessions a zero embedding made every
    consumer CRASH on divide-by-zero, and under non-ANSI the NaN
    ordered above every number, falsely passing >= thresholds. NULL
    drops out of threshold filters and sorts last in rankings — 'no
    similarity evidence'."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def nearest_cell(v: Column, cands: Column, ndigits: int) -> Column:
    """The one nearest-cell comparator: per-row argmax of `v` over
    `cands`, an array<struct(cid, cv)> codebook attached to the row
    (one broadcast row of collect_list(struct(cid, cv))). Returns
    struct(sim, ncid): sim = round(cosine(v, cv), ndigits) and ncid =
    -cid, so the winning cell is -ncid. Struct ordering compares sim
    first, then ncid: the highest rounded similarity wins, ties go to
    the smaller cid, and a NULL sim (zero-norm vector) loses to any
    number. The result is NULL when `cands` is NULL or empty.

    `greatest` orders struct(sim, ncid) the same way and skips NULL, so
    the argmax over a codebook split into blocks is
    greatest(argmax(block_1), argmax(block_2), ...) — exact.

    Bound: one collect_list row is built by one final-aggregation task
    and broadcast whole. Keep it well under Spark's per-row/broadcast
    limits (~10⁵ cells × 1k dims ≈ 1 GB is past them); larger
    codebooks are split into blocks and combined with `greatest`, as
    the streaming ANN index does. Callers wrap the result in
    `eval_once`: the interpreted HOF body must not be copied into a
    consumer filter or a second field extraction."""
    return F.array_max(
        F.transform(
            cands,
            lambda c: F.struct(
                F.round(cosine(v, c["cv"]), ndigits).alias("sim"),
                (-c["cid"]).alias("ncid"),
            ),
        )
    )


def eval_once(c: Column) -> Column:
    """Pin an expensive projection expression to exactly ONE evaluation
    per row. Catalyst re-evaluates expressions wherever it copies them:
    PushDownPredicate substitutes a filter/inferred join constraint
    through a Project by inlining the full producing expression (no
    cheapness guard), and CollapseProject inlines a producer referenced
    by several consumers — and interpreted higher-order-function
    expressions (transform/aggregate lambdas) get no codegen
    common-subexpression elimination, so every copy is a full re-run
    (measured: the IVF per-row codebook argmax ran 2x per row when its
    consumer filter was substituted into the join condition). The
    wrapper `when(monotonically_increasing_id() >= -1, c)` never
    changes a value or drops a row (the id is always >= 0), but marks
    the projection non-deterministic, which Catalyst must not
    substitute through, duplicate, or collapse — the expression body
    runs once, and downstream operators see only the cheap attribute.
    (`rand() >= -1` does NOT work: Spark 4's optimizer knows rand's
    [0,1) range and folds the guard away.)

    Two consequences callers accept knowingly (ADVICE r11): the
    wrapped column becomes NULLABLE (`when` without `otherwise`) —
    values never change, but schema comparisons that check nullability
    see the difference; and the guarantee rests on version-specific
    optimizer behavior (monotonically_increasing_id treated
    non-deterministic, the when-guard not folded) — pinned by
    tests/test_eval_once.py, which must be re-run on any Spark
    upgrade."""
    return F.when(F.monotonically_increasing_id() >= -1, c)


def salted_join(
    skewed: "DataFrame",
    other: "DataFrame",
    on: str | list[str],
    salt_buckets: int = 8,
    how: str = "inner",
) -> "DataFrame":
    """Skew-safe equi-join: spread a hot key over `salt_buckets` shuffle
    partitions by salting the skewed side and replicating the other.

    AQE's skew-join split handles most skew at runtime; explicit salting
    is for the pathological case AQE can't fix — one key holding a
    double-digit percent of the fact table, where a single reducer
    would still own the whole key. The salt derives from the row's
    position (monotonically_increasing_id), NOT a hash of its values:
    hot keys are typically millions of IDENTICAL rows (heartbeats,
    repeated error lines), and a value hash would send every copy to
    the same bucket, reducing the guard to a no-op exactly in the case
    it exists for (review finding). Join output is unaffected by salt
    placement, so task-retry nondeterminism of the row ids is harmless.

    Only inner/left-side joins are supported: the replicated side would
    emit its unmatched rows once per salt bucket under right/full outer
    semantics (review finding).
    """
    from pyspark.sql import DataFrame  # noqa: F401 (typing only)

    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; {how!r} would "
            "duplicate unmatched replicated-side rows"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    s = skewed.withColumn("_salt", salt)
    o = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return s.join(o, on=keys + ["_salt"], how=how).drop("_salt")


from .asof import asof_join  # noqa: E402,F401
