"""Constraint validation — the Deequ/Great-Expectations-style data-quality
gate a 100 TB ingest pipeline runs before publishing a table (the
reference's conversion asserts per-message invariants ad hoc —
rosbag2parquet.cpp's size/offset checks; this is the declarative,
engine-level generalization over relational outputs).

A rule set is validated in as few passes as the rule classes allow:

- ROW-LOCAL rules (completeness, range, set membership, sign) all fold
  into ONE aggregate — and when any keyed rule (uniqueness/FK) exists,
  that aggregate RIDES the finest key reduction as per-key partials
  (r14), so the fact table is scanned once for the whole rule set
  instead of once for the row-local pass plus once for the keys.
- UNIQUENESS rules share one two-level aggregate: the fine-grained key
  (``l_orderkey, l_linenumber``) groupBy partial-combines map-side, and
  the coarser key (``l_orderkey``) re-aggregates the ALREADY-REDUCED
  rows — the second rule costs ~|keys| tiny rows, not a second scan.
- REFERENTIAL-INTEGRITY rules join the reduced key table (not the fact
  rows) against the parent's key column: orphan mass comes back as
  ``sum(c)`` over anti-join survivors, so the join moves |distinct keys|
  rows and the verdict still counts fact ROWS.

The per-rule scalars cross-join into one wide row (each side is 1 row —
the analyze-table posture, allowlisted by design) and ``stack``-unpivot
into one row per rule: ``(rule, checked, violations, ok)``. The suite
includes rules that PASS and rules that genuinely FAIL on the fixture
(quantity capped at 25 fails on TPC-H's 1..50; ``l_orderkey`` alone is
not unique) so both verdict paths are exercised end-to-end.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.catalog import load_table


# Spark's `div` truncates toward zero while DuckDB's `//` floors — the two
# differ on negative operands (pre-1970 timestamps), so every bucket /
# midpoint derivation uses explicit FLOOR semantics on the Spark side:
# (a - pmod(a, b)) div b — pmod yields the non-negative remainder, making
# the numerator exactly divisible, so the truncating div IS the floor.
_MID_US = "((t_lo + t_hi) - pmod(t_lo + t_hi, 2)) div 2"

# |n1*t2 - n2*t1| * 10000 div (t1*t2) in plain BIGINT silently wraps once a
# product passes 2^63 — reachable at ~3e9 rows/epoch, far below the 100 TB
# posture. The engine widens to DECIMAL(38,0) (exact integers to 1e38; at
# 1e14 rows/epoch the products are ~1e32) and the oracle to HUGEINT
# (int128, exact to 1.7e38); the quotient is <= 10000 by construction
# (|n1*t2 - n2*t1| <= t1*t2), so the final BIGINT never wraps.
DRIFT_BPS_SQL = (
    "CAST(abs(CAST(n1 AS DECIMAL(38,0)) * t2"
    " - CAST(n2 AS DECIMAL(38,0)) * t1)"
    " * 10000 div (CAST(t1 AS DECIMAL(38,0)) * t2) AS BIGINT)"
)
DRIFT_BPS_DUCK = (
    "CAST(abs(CAST(n1 AS HUGEINT) * t2 - CAST(n2 AS HUGEINT) * t1)"
    " * 10000 // (CAST(t1 AS HUGEINT) * t2) AS BIGINT)"
)


def _viol(cond) -> F.Column:
    # NULL predicate input counts as not-violating, matching the oracle's
    # count(*) FILTER (WHERE <cond>) which skips NULL conditions
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0))).cast("long")


# ----------------------------------------------------- declarative rule API
#
# Users declare WHAT must hold; `validate()` plans the minimal passes:
# every row-local rule folds into one aggregate, uniqueness rules form a
# re-aggregation ladder (a coarser key reduces the finer key's ALREADY
# reduced rows, never the fact table), and FK rules anti-join whichever
# reduced key table already exists. The registered `validate-constraints`
# query is itself expressed through this API — the fixed query IS a user
# of the engine feature, not a special case.


@dataclass(frozen=True)
class Completeness:
    column: str

    @property
    def name(self) -> str:
        return f"completeness:{self.column}"

    def cond(self) -> F.Column:
        return F.col(self.column).isNull()


@dataclass(frozen=True)
class InRange:
    column: str
    lo: float
    hi: float

    @property
    def name(self) -> str:
        return f"range:{self.column}:[{self.lo},{self.hi}]"

    def cond(self) -> F.Column:
        return ~F.col(self.column).between(self.lo, self.hi)


@dataclass(frozen=True)
class InSet:
    column: str
    values: tuple

    @property
    def name(self) -> str:
        return f"set:{self.column}:{{{','.join(map(str, self.values))}}}"

    def cond(self) -> F.Column:
        return ~F.col(self.column).isin(*self.values)


@dataclass(frozen=True)
class Positive:
    column: str

    @property
    def name(self) -> str:
        return f"positive:{self.column}"

    def cond(self) -> F.Column:
        return F.col(self.column) <= 0


@dataclass(frozen=True)
class Unique:
    columns: tuple

    @property
    def name(self) -> str:
        return f"unique:{'+'.join(self.columns)}"


@dataclass(frozen=True)
class ForeignKey:
    columns: tuple
    parent_columns: tuple
    label: str  # e.g. "lineitem.l_orderkey->orders"

    @property
    def name(self) -> str:
        return f"fk:{self.label}"


@dataclass(frozen=True)
class RowCountBetween:
    """Table-level cardinality bound (the classic Deequ size check — an
    empty or exploded ingest batch is a pipeline failure no row-level
    rule sees). Costs nothing extra: the verdict derives from the count
    the row-local pass already computes; ``violations`` is the distance
    outside the bound (0 inside)."""

    lo: int
    hi: int

    @property
    def name(self) -> str:
        return f"rowcount:[{self.lo},{self.hi}]"


@dataclass(frozen=True)
class DriftBelow:
    """ALERT-THRESHOLD rule over the categorical drift monitor: every
    category of ``column`` must shift less than ``max_bps`` basis points
    between the table's first and second time epoch (the `drift-detect`
    computation as a gate verdict instead of a report — monitors and the
    quality gate share ONE (rule, checked, violations, ok) surface, so a
    pipeline wires alarms and constraints through the same API).
    ``violations`` counts alarming CATEGORIES."""

    column: str
    ts_column: str
    max_bps: int

    @property
    def name(self) -> str:
        return f"drift:{self.column}<{self.max_bps}bps"


@dataclass(frozen=True)
class SlopeAtLeast:
    """ALERT-THRESHOLD rule over the volume-trend monitor: every group of
    ``column`` must have an hourly-count OLS slope ≥ ``min_slope`` (the
    `volume-trend` computation as a gate verdict — the dying-producer
    alarm). Groups with undefined slope (single observed hour) do not
    violate; ``violations`` counts alarming GROUPS."""

    column: str
    ts_column: str
    min_slope: float

    @property
    def name(self) -> str:
        return f"slope:{self.column}>={self.min_slope}/h"


_ROW_LOCAL = (Completeness, InRange, InSet, Positive)


def _us_expr(df: DataFrame, col: str) -> F.Column:
    """Microsecond LONG view of a time column: unix_micros for a real
    timestamp type; an integral column is taken AS epoch-microseconds
    (the documented contract — a seconds-grain long would bucket wrong
    silently, so the caller owns the unit). Any other type REFUSES loudly
    instead of casting to garbage/NULLs — a monitoring rule that
    silently reports ok=true on an unparseable time column is the worst
    failure mode a gate can have."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        TimestampNTZType,
        TimestampType,
    )

    dt = df.schema[col].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp"))
    if isinstance(dt, (LongType, IntegerType)):
        return F.col(col).cast("long")
    raise ValueError(
        f"monitoring rule time column {col!r} has type "
        f"{dt.simpleString()}; expected a timestamp or an "
        "epoch-microseconds integer"
    )


def _drift_bps_cells(df: DataFrame, column: str, ts_column: str) -> DataFrame:
    """Per-category drift basis points — the q_drift_detect plan shape
    verbatim: a 2-scalar epoch-bounds reduce broadcast back, one
    partial-combined (category, epoch) groupBy, the |categories|-row bps
    projection. ONE of these frames serves every DriftBelow threshold on
    the same (column, ts_column) — thresholds are counts over the same
    tiny cells, so extra thresholds cost zero extra table scans."""
    ev = df.select(
        F.col(column).alias("k"),
        _us_expr(df, ts_column).alias("t_us"),
    )
    bounds = ev.agg(F.min("t_us").alias("t_lo"), F.max("t_us").alias("t_hi"))
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn(
            "epoch",
            # NULL-ts rows land in epoch 2 like the oracle's CASE (the
            # NULL condition takes n1's ELSE 0 / n2's ELSE 1); a bare
            # NULL epoch would drop the row from BOTH counts engine-side
            F.coalesce(
                (F.col("t_us") < F.expr(_MID_US)).cast("int"), F.lit(0)
            ),
        )
        .groupBy("k")
        .agg(
            F.sum("epoch").cast("long").alias("n1"),
            F.sum(F.lit(1) - F.col("epoch")).cast("long").alias("n2"),
        )
    )
    # totals as window sums over the tiny cells frame, NOT
    # cells.agg(...) cross-joined back: the crossJoin form evaluates the
    # cells subtree twice (once under the broadcast, once as the probe
    # side), which re-scans the fact table — r14 measured 2 extra scans
    # per totals use (guide §2.4/§7.2 "duplicated subtrees"). The window
    # needs one single-partition exchange of |categories| rows; integer
    # sums are order-free, so values are identical by construction.
    return cells.select(
        "n1",
        "n2",
        F.expr("sum(n1) OVER ()").alias("t1"),
        F.expr("sum(n2) OVER ()").alias("t2"),
    ).select(F.expr(DRIFT_BPS_SQL).alias("bps"))


def _slope_cells(df: DataFrame, column: str, ts_column: str) -> DataFrame:
    """Per-group hourly OLS slopes — the q_volume_trend plan shape
    verbatim: one hour-grain groupBy (the only full-data shuffle), the
    per-group regression over tiny rows. ONE frame serves every
    SlopeAtLeast floor on the same (column, ts_column)."""
    ev = df.select(
        F.col(column).alias("k"),
        _us_expr(df, ts_column).alias("t_us"),
    ).select(
        "k",
        F.expr("(t_us - pmod(t_us, 3600000000)) div 3600000000").alias("h"),
    )
    base = ev.agg(F.min("h").alias("h0"))
    hourly = (
        ev.crossJoin(F.broadcast(base))
        .select("k", (F.col("h") - F.col("h0")).alias("x"))
        .groupBy("k", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return (
        hourly.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .select(
            F.expr(
                "CAST(n_hours * sxy - sx * sy AS DOUBLE)"
                " / nullif(n_hours * sxx - sx * sx, 0)"
            ).alias("slope")
        )
    )


def _surplus(reduced: DataFrame) -> DataFrame:
    """Duplicate mass of a reduced key table: sum of (count-1) over keys."""
    return reduced.agg(
        F.sum(
            F.when(F.col("c") > 1, F.col("c") - 1).otherwise(F.lit(0))
        ).cast("long")
    )


def validate(
    df: DataFrame, rules: list, parents: "dict[str, DataFrame] | None" = None
) -> DataFrame:
    """Validate ``rules`` over ``df`` in the fewest passes the rule
    classes allow; returns one ``(rule, checked, violations, ok)`` row
    per rule (unordered — callers sort). ``parents`` maps a
    ForeignKey's label to its parent DataFrame. NULL semantics: a NULL
    predicate input never violates a row-local rule; NULL keys are
    completeness failures, not uniqueness/FK violations (explicitly
    filtered — an anti join would otherwise KEEP them, NULL never
    equi-matches)."""
    parents = parents or {}
    row_local = [r for r in rules if isinstance(r, _ROW_LOCAL)]
    counts = [r for r in rules if isinstance(r, RowCountBetween)]
    uniques = sorted(
        (r for r in rules if isinstance(r, Unique)),
        key=lambda r: -len(r.columns),
    )
    fks = [r for r in rules if isinstance(r, ForeignKey)]
    drifts = [r for r in rules if isinstance(r, DriftBelow)]
    slopes = [r for r in rules if isinstance(r, SlopeAtLeast)]

    pieces, cols = [], []  # 1-row DataFrames to cross, (name, viol sql)

    # ONE-PASS FUSION (r14, guide §2.4 "remove the scan outright"): when a
    # keyed rule exists, the fact table would be scanned once for the
    # row-local aggregate and again for the finest key reduction. Instead
    # the row-local violation counters ride the finest groupBy as per-key
    # partials (integer sums re-aggregate exactly over any partition of
    # the rows), and the scalar piece folds n / v_i / that key's surplus
    # out of the reduced rows — the fact table is scanned ONCE, and every
    # coarser key / FK re-aggregates the reduced table, whose exchange the
    # planner shares via ReusedExchange.
    # Cost shape at 100 TB: the keyed shuffle (already paid by the
    # uniqueness rule) carries len(row_local) extra longs per DISTINCT
    # key row; in exchange a whole second fact scan disappears.
    # r14 A/B honesty note: at sf0.1 this fusion is LATENCY-NEUTRAL on an
    # idle host (interleaved same-window pairs: min 1.28 vs 1.37 s, median
    # 1.69 vs 1.65) because AQE runs the old shape's duplicate subtrees
    # concurrently on spare cores; under CPU contention the fused shape
    # won 1.3× (min 2.40 vs 3.30 s) — fewer scans is what survives when
    # cores are busy, which is the 100 TB regime.
    fused_key: "tuple | None" = None
    if uniques:
        fused_key = uniques[0].columns  # sorted finest-first above
    elif fks:
        fused_key = fks[0].columns

    for i, r in enumerate(row_local):
        cols.append((r.name, f"v{i}"))
    for r in counts:
        # rides the already-computed n; violation = distance out of bound
        cols.append(
            (
                r.name,
                f"CAST(greatest(0L, {r.lo} - n, n - {r.hi}) AS BIGINT)",
            )
        )

    # uniqueness ladder: coarser keys re-aggregate finer reduced tables
    reduced: "dict[frozenset, DataFrame]" = {}

    def _reduced_for(key_cols: tuple) -> DataFrame:
        want = frozenset(key_cols)
        if want in reduced:
            return reduced[want]
        donor = next(
            (k for k in reduced if want < k), None
        )
        if donor is not None:
            out = (
                reduced[donor]
                .groupBy(*key_cols)
                .agg(F.sum("c").alias("c"))
            )
        else:
            out = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("c"))
        reduced[want] = out
        return out

    fused_uniques: "set[int]" = set()
    if fused_key is None:
        aggs = [F.count(F.lit(1)).cast("long").alias("n")]
        for i, r in enumerate(row_local):
            aggs.append(_viol(r.cond()).alias(f"v{i}"))
        pieces.append(df.agg(*aggs))
    else:
        fine_aggs = [F.count(F.lit(1)).alias("c")]
        for i, r in enumerate(row_local):
            fine_aggs.append(_viol(r.cond()).alias(f"pv{i}"))
        # probed and rejected (r14): localCheckpoint(fine) — materializing
        # the reduced table once instead of letting the 3 consumers
        # re-evaluate it — LOSES at sf0.1 (interleaved A/B min 2.60 vs
        # 2.40, median 3.31 vs 2.85): AQE runs the duplicate subtrees
        # concurrently on idle cores, the hll-sketch probe verdict again.
        # At 100 TB the checkpoint trades a second fact scan for a
        # |distinct keys|-row materialization — revisit if the gate ever
        # runs on a saturated cluster where duplicate work costs real
        # throughput.
        fine = df.groupBy(*fused_key).agg(*fine_aggs)
        reduced[frozenset(fused_key)] = fine
        scalar_aggs = [F.sum("c").cast("long").alias("n")]
        for i, _r in enumerate(row_local):
            scalar_aggs.append(F.sum(f"pv{i}").cast("long").alias(f"v{i}"))
        # the finest unique's surplus reads the same reduced rows — fold
        # it into the same scalar pass instead of a separate piece
        for j, u in enumerate(uniques):
            if u.columns == fused_key:
                fused_uniques.add(j)
                scalar_aggs.append(
                    F.sum(
                        F.when(F.col("c") > 1, F.col("c") - 1).otherwise(
                            F.lit(0)
                        )
                    )
                    .cast("long")
                    .alias(f"u{j}")
                )
                cols.append((u.name, f"u{j}"))
        pieces.append(fine.agg(*scalar_aggs))

    for j, u in enumerate(uniques):
        if j in fused_uniques:
            continue
        pieces.append(
            _surplus(_reduced_for(u.columns)).toDF(f"u{j}")
        )
        cols.append((u.name, f"u{j}"))

    for k, fk in enumerate(fks):
        child = _reduced_for(fk.columns)
        for c in fk.columns:
            child = child.filter(F.col(c).isNotNull())
        parent = parents[fk.label].select(
            *[
                F.col(pc).alias(cc)
                for pc, cc in zip(fk.parent_columns, fk.columns)
            ]
        )
        orphan = (
            child.join(parent, list(fk.columns), "left_anti")
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long"))
            .toDF(f"f{k}")
        )
        pieces.append(orphan)
        cols.append((fk.name, f"f{k}"))

    # monitoring alert thresholds: rules sharing a (column, ts_column)
    # share ONE cells frame and fold all their threshold counts into ONE
    # aggregate — extra thresholds cost no extra table scan; each group
    # contributes one multi-column scalar piece, same cross-join posture
    # as the uniqueness/FK scalars
    drift_groups: "dict[tuple, list]" = {}
    for d_i, dr in enumerate(drifts):
        drift_groups.setdefault((dr.column, dr.ts_column), []).append(
            (d_i, dr)
        )
    for (g_col, g_ts), members in drift_groups.items():
        bps = _drift_bps_cells(df, g_col, g_ts)
        pieces.append(
            bps.agg(
                *[
                    F.sum(
                        F.when(F.col("bps") > dr.max_bps, 1).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"md{d_i}")
                    for d_i, dr in members
                ]
            )
        )
        for d_i, dr in members:
            cols.append((dr.name, f"md{d_i}"))
    slope_groups: "dict[tuple, list]" = {}
    for s_i, sl in enumerate(slopes):
        slope_groups.setdefault((sl.column, sl.ts_column), []).append(
            (s_i, sl)
        )
    for (g_col, g_ts), members in slope_groups.items():
        sc = _slope_cells(df, g_col, g_ts)
        pieces.append(
            sc.agg(
                *[
                    F.sum(
                        F.when(
                            F.col("slope").isNotNull()
                            & (F.col("slope") < sl.min_slope),
                            1,
                        ).otherwise(0)
                    )
                    .cast("long")
                    .alias(f"ms{s_i}")
                    for s_i, sl in members
                ]
            )
        )
        for s_i, sl in members:
            cols.append((sl.name, f"ms{s_i}"))

    wide = pieces[0]
    for p in pieces[1:]:
        wide = wide.crossJoin(p)
    parts = ", ".join(
        f"'{name}', n, {v}, {v} = 0" for name, v in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {parts}) AS (rule, checked, violations, ok)"
    )


def rules_from_spec(
    spark: SparkSession, spec: dict
) -> "tuple[list, dict[str, DataFrame]]":
    """Build (rules, parents) from a JSON-able rule spec — the CLI's input
    format, so the quality gate runs on ANY parquet table without code:

    ``{"rules": [{"type": "completeness", "column": "seqno"},
                 {"type": "range", "column": "v", "lo": 0, "hi": 10},
                 {"type": "in_set", "column": "c", "values": ["a"]},
                 {"type": "positive", "column": "v"},
                 {"type": "unique", "columns": ["a", "b"]},
                 {"type": "foreign_key", "columns": ["a"],
                  "parent": "<parquet path>", "parent_columns": ["x"],
                  "label": "child.a->parent"}]}``

    Foreign-key parents are parquet paths read here, so a spec file is
    self-contained."""
    rules: list = []
    parents: "dict[str, DataFrame]" = {}
    for r in spec["rules"]:
        t = r["type"]
        if t == "completeness":
            rules.append(Completeness(r["column"]))
        elif t == "range":
            rules.append(InRange(r["column"], r["lo"], r["hi"]))
        elif t == "in_set":
            rules.append(InSet(r["column"], tuple(r["values"])))
        elif t == "positive":
            rules.append(Positive(r["column"]))
        elif t == "unique":
            rules.append(Unique(tuple(r["columns"])))
        elif t == "row_count":
            rules.append(RowCountBetween(r["lo"], r["hi"]))
        elif t == "drift_below":
            rules.append(
                DriftBelow(r["column"], r["ts_column"], int(r["max_bps"]))
            )
        elif t == "slope_at_least":
            rules.append(
                SlopeAtLeast(
                    r["column"], r["ts_column"], float(r["min_slope"])
                )
            )
        elif t == "foreign_key":
            label = r.get(
                "label", f"{'+'.join(r['columns'])}->{r['parent']}"
            )
            rules.append(
                ForeignKey(
                    tuple(r["columns"]), tuple(r["parent_columns"]), label
                )
            )
            parents[label] = spark.read.parquet(r["parent"])
        else:
            raise ValueError(f"unknown rule type {t!r}")
    return rules, parents


def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    li_rules = [
        Completeness("l_orderkey"),
        InRange("l_quantity", 1, 25),
        InSet("l_returnflag", ("A", "N", "R")),
        Positive("l_extendedprice"),
        Unique(("l_orderkey", "l_linenumber")),
        Unique(("l_orderkey",)),
        ForeignKey(
            ("l_orderkey",), ("o_orderkey",), "lineitem.l_orderkey->orders"
        ),
    ]
    ord_rules = [
        ForeignKey(
            ("o_custkey",), ("c_custkey",), "orders.o_custkey->customer"
        )
    ]
    return (
        validate(li, li_rules, {"lineitem.l_orderkey->orders": ords})
        .unionByName(
            validate(
                ords, ord_rules, {"orders.o_custkey->customer": cust}
            )
        )
        .orderBy("rule")
    )


ORACLE_VALIDATE_CONSTRAINTS = """
WITH fine AS (
  SELECT l_orderkey, l_linenumber, count(*) AS c
  FROM lineitem GROUP BY l_orderkey, l_linenumber
), coarse AS (
  SELECT l_orderkey, sum(c) AS c FROM fine GROUP BY l_orderkey
), ocust AS (
  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
)
SELECT * FROM (
SELECT 'completeness:l_orderkey' AS rule,
       CAST(count(*) AS BIGINT) AS checked,
       CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS violations,
       count(*) FILTER (WHERE l_orderkey IS NULL) = 0 AS ok
FROM lineitem
UNION ALL
SELECT 'range:l_quantity:[1,25]', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 25) AS BIGINT),
       count(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 25) = 0
FROM lineitem
UNION ALL
SELECT 'set:l_returnflag:{A,N,R}', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS BIGINT),
       count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) = 0
FROM lineitem
UNION ALL
SELECT 'positive:l_extendedprice', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT),
       count(*) FILTER (WHERE l_extendedprice <= 0) = 0
FROM lineitem
UNION ALL
SELECT 'unique:l_orderkey+l_linenumber',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) = 0
FROM fine
UNION ALL
SELECT 'unique:l_orderkey',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) = 0
FROM coarse
UNION ALL
SELECT 'fk:lineitem.l_orderkey->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST(coalesce(sum(c), 0) AS BIGINT),
       coalesce(sum(c), 0) = 0
FROM coarse WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'fk:orders.o_custkey->customer',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST(coalesce(sum(c), 0) AS BIGINT),
       coalesce(sum(c), 0) = 0
FROM ocust WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
) ORDER BY rule
"""


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy transform for sharing an event log — the three standard
    moves applied in one pass (GDPR pseudonymization; complements the
    hard-delete path `delete-rows` owns):

    - KEY PSEUDONYMIZATION: ``user_id`` replaced by a peppered SHA-256
      (the pepper is what stops a rainbow table over a small id space;
      deterministic, so joinability across tables/epochs is preserved —
      the property tokenization must keep and random ids would lose).
    - GENERALIZATION: event timestamps coarsen to the hour (quasi-
      identifier blunting; the raw microsecond is a fingerprint).
    - K-SUPPRESSION (k=2) on the published quasi-identifier
      ``(event_type, hour)``: a row whose QI cell is UNIQUE in the
      release pinpoints one person to anyone who knows when they acted
      (the classic linkage attack) even though the key is masked —
      k-anonymity drops singleton cells rather than publishing them.

    Plan: hashing + generalization are MAP-ONLY (JVM sha2/date_trunc, no
    Python); the k-gate aggregates the QI dim (|type x hour| tiny rows,
    partial-combined map-side) and BROADCASTS it back, so the event log
    itself never shuffles — a k-policy change re-filters without moving
    the corpus, the same posture as `stratified-sample`. Deterministic
    end to end, so the oracle is exact (DuckDB sha256 and Spark
    sha2(256) both emit lowercase hex over identical ``pepper:id``
    strings). The fixture has live suppression at sf0.001/sf0.01 (both
    verdict paths run)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_us", F.unix_micros(F.date_trunc("hour", F.col("ts")))
    )
    cells = ev.groupBy("event_type", "hour_us").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    return (
        ev.join(F.broadcast(cells), ["event_type", "hour_us"])
        .filter(F.col("n_cell") >= 2)
        .select(
            "event_id",
            F.sha2(
                F.concat(F.lit("pepper:"), F.col("user_id").cast("string")),
                256,
            ).alias("pseudonym"),
            "hour_us",
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .orderBy("event_id")
    )


ORACLE_PSEUDONYMIZE = """
WITH k AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n_cell
  FROM events GROUP BY 1, 2
)
SELECT e.event_id,
       sha256('pepper:' || CAST(e.user_id AS VARCHAR)) AS pseudonym,
       epoch_us(date_trunc('hour', e.ts)) AS hour_us,
       e.event_type,
       CAST(e.value AS DOUBLE) AS value
FROM events e
JOIN k ON k.event_type = e.event_type
      AND k.h = date_trunc('hour', e.ts)
WHERE k.n_cell >= 2
ORDER BY e.event_id
"""


def q_drift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor — the gate that catches a producer-mix
    change BEFORE it skews training data (validate-constraints checks
    rules a row can break alone; drift is a population property no row
    breaks): the event stream splits at its time midpoint and each
    event_type's share of epoch 1 vs epoch 2 is compared, the shift
    reported in integer basis points — ``|n1*t2 - n2*t1| * 10000 div
    (t1*t2)`` is pure BIGINT arithmetic (no float shares, no libm PSI
    logarithm), so the drift score is bit-identical cross-engine and
    stable under re-partitioning. A type present in only one epoch still
    rows out (full outer on the type dim) — appearing/disappearing
    categories ARE the drift signal most worth alarming on.

    Plan: one 2-scalar (min,max) reduce broadcast back as the epoch
    boundary (allowlisted global scalar, same posture as interval-join's
    grid bounds), then ONE partial-combined groupBy over (type, epoch) —
    the fact table is scanned once and only |types x 2| tiny rows plus
    two scalars ever cross an exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("t_us")
    )
    bounds = ev.agg(
        F.min("t_us").alias("t_lo"), F.max("t_us").alias("t_hi")
    )
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn(
            "epoch",
            # NULL-ts → epoch 2, matching the oracle CASE's ELSE paths
            F.coalesce(
                (F.col("t_us") < F.expr(_MID_US)).cast("int"), F.lit(0)
            ),
        )
        .groupBy("event_type")
        .agg(
            F.sum("epoch").cast("long").alias("n1"),
            F.sum(F.lit(1) - F.col("epoch")).cast("long").alias("n2"),
        )
    )
    # corpus totals as window sums over the |types|-row cells frame: the
    # former cells.agg(...) cross-joined back evaluated the cells subtree
    # (and its fact scan) TWICE — once under the BroadcastExchange, once
    # as the probe side (r14: 8 scan refs → 4 in the formatted plan, 0.74
    # → ~0.5 s at sf0.1). One single-partition exchange of tiny rows
    # replaces it; integer sums are order-free, values identical.
    return (
        cells.select(
            "event_type",
            "n1",
            "n2",
            F.expr("sum(n1) OVER ()").alias("t1"),
            F.expr("sum(n2) OVER ()").alias("t2"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            F.expr(DRIFT_BPS_SQL).alias("drift_bps"),
        )
        .orderBy("event_type")
    )


ORACLE_DRIFT_DETECT = f"""
WITH b AS (
  SELECT epoch_us(min(ts)) AS t_lo, epoch_us(max(ts)) AS t_hi FROM events
), cells AS (
  SELECT event_type,
         CAST(sum(CASE WHEN epoch_us(e.ts) < (b.t_lo + b.t_hi) // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN epoch_us(e.ts) < (b.t_lo + b.t_hi) // 2
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM events e CROSS JOIN b
  GROUP BY event_type
), tot AS (
  SELECT sum(n1) AS t1, sum(n2) AS t2 FROM cells
)
SELECT event_type, n1, n2,
       {DRIFT_BPS_DUCK}
           AS drift_bps
FROM cells CROSS JOIN tot
ORDER BY event_type
"""


def q_drift_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift — `drift-detect`'s companion for the case ML
    monitoring actually hits most (a continuous feature's distribution
    slides while every categorical column looks stable): the ``value``
    column's histogram over 10 equal-width buckets anchored to the
    REFERENCE epoch's [min, max] (anchoring to the reference is the
    point — a shifted current epoch lands mass in the edge buckets
    instead of silently re-normalizing; out-of-range values clamp to the
    edge buckets, which is the alarm). Per-bucket shares compare in the
    same integer basis points as the categorical monitor.

    Determinism: bucket = floor((v - lo) * 10 / (hi - lo)) clamped to
    [0, 9] — subtraction, multiply, divide are each IEEE
    correctly-rounded, so both engines compute the SAME double from the
    same inputs and floor cannot disagree; the drift score itself is pure
    BIGINT arithmetic. Plan: one fact scan, the epoch/range bounds are
    one 3-scalar reduce broadcast back, then a partial-combined
    (bucket, epoch) groupBy — only ~20 tiny rows cross."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("v"),
        F.unix_micros("ts").alias("t_us"),
    )
    bounds = ev.agg(
        F.min("t_us").alias("t_lo"), F.max("t_us").alias("t_hi")
    )
    with_epoch = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "epoch",
        (F.col("t_us") < F.expr(_MID_US)).cast("int"),
    )
    ref_range = with_epoch.filter(F.col("epoch") == 1).agg(
        F.min("v").alias("v_lo"), F.max("v").alias("v_hi")
    )
    cells = (
        with_epoch.crossJoin(F.broadcast(ref_range))
        .withColumn(
            "bucket",
            F.expr(
                "CAST(coalesce(greatest(0, least(9,"
                " floor((v - v_lo) * 10 / nullif(v_hi - v_lo, 0.0d)))),"
                " 0) AS BIGINT)"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.sum("epoch").cast("long").alias("n1"),
            F.sum(F.lit(1) - F.col("epoch")).cast("long").alias("n2"),
        )
    )
    # window totals over the ≤10-bucket cells frame — same duplicated-
    # subtree fix as q_drift_detect (the crossJoin form re-ran the whole
    # bounds→epoch→bucket→groupBy chain, 4 fact scans, for the 2 scalars)
    return (
        cells.select(
            "bucket",
            "n1",
            "n2",
            F.expr("sum(n1) OVER ()").alias("t1"),
            F.expr("sum(n2) OVER ()").alias("t2"),
        )
        .select(
            "bucket",
            "n1",
            "n2",
            F.expr(DRIFT_BPS_SQL).alias("drift_bps"),
        )
        .orderBy("bucket")
    )


ORACLE_DRIFT_NUMERIC = f"""
WITH b AS (
  SELECT epoch_us(min(ts)) AS t_lo, epoch_us(max(ts)) AS t_hi FROM events
), e AS (
  SELECT CAST(value AS DOUBLE) AS v,
         CASE WHEN epoch_us(ts) < (b.t_lo + b.t_hi) // 2
              THEN 1 ELSE 0 END AS epoch
  FROM events CROSS JOIN b
), r AS (
  SELECT min(v) AS v_lo, max(v) AS v_hi FROM e WHERE epoch = 1
), cells AS (
  SELECT CAST(coalesce(greatest(0, least(9,
             floor((v - r.v_lo) * 10 / nullif(r.v_hi - r.v_lo, 0)))),
             0) AS BIGINT)
             AS bucket,
         CAST(sum(epoch) AS BIGINT) AS n1,
         CAST(sum(1 - epoch) AS BIGINT) AS n2
  FROM e CROSS JOIN r
  GROUP BY 1
), tot AS (
  SELECT sum(n1) AS t1, sum(n2) AS t2 FROM cells
)
SELECT bucket, n1, n2,
       {DRIFT_BPS_DUCK}
           AS drift_bps
FROM cells CROSS JOIN tot
ORDER BY bucket
"""


def q_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume trend per event type — the third monitoring axis beside the
    two drift monitors (drift sees the MIX shift; this sees a type's
    absolute volume growing or dying, the failing-sensor / runaway-
    producer signal): closed-form OLS slope of hourly event counts over
    time, computed ENTIRELY in BIGINT sums — x is the hour index
    rebased to the corpus' first hour (slope is translation-invariant in
    x; rebasing buys overflow headroom and is the only reason the global
    min-hour scalar exists), y is the hour's count, and
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) is ONE IEEE division of
    two exactly-computed integers — bit-identical cross-engine, no
    float accumulation order anywhere. Hours with zero events are simply
    absent (OLS over observed support; `resample-interpolate` is the op
    that fills gaps when a dense grid is wanted). A single-hour type
    yields NULL slope (den 0), not a fake 0.

    Plan: ONE partial-combined groupBy to hour grain (the only full-data
    shuffle), then the per-type regression re-aggregates ~|types x hours|
    tiny rows; the min-hour rebase is a 1-scalar reduce broadcast back."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
               " div 3600000000").alias("h"),
    )
    base = ev.agg(F.min("h").alias("h0"))
    hourly = (
        ev.crossJoin(F.broadcast(base))
        .select("event_type", (F.col("h") - F.col("h0")).alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
        .select(
            "event_type",
            "n_hours",
            "sy",
            F.expr(
                "CAST(n_hours * sxy - sx * sy AS DOUBLE)"
                " / nullif(n_hours * sxx - sx * sx, 0)"
            ).alias("slope_per_hour"),
        )
        .orderBy("event_type")
    )


ORACLE_VOLUME_TREND = """
WITH b AS (
  SELECT min(epoch_us(ts) // 3600000000) AS h0 FROM events
), hourly AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 - b.h0 AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events CROSS JOIN b
  GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM hourly GROUP BY event_type
)
SELECT event_type, n_hours, sy,
       CAST(n_hours * sxy - sx * sy AS DOUBLE)
           / nullif(n_hours * sxx - sx * sx, 0) AS slope_per_hour
FROM s ORDER BY event_type
"""


#: alert thresholds for the registered `alert-rules` query — chosen so the
#: fixture exercises BOTH verdict paths (sf0.01: max drift 91 bps so <200
#: passes and <50 fails with 2 alarming types; purchase's slope
#: -0.000411/h trips the -0.0001 floor)
ALERT_DRIFT_LOOSE_BPS = 200
ALERT_DRIFT_TIGHT_BPS = 50
ALERT_MIN_SLOPE = -0.0001


def q_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative MONITORING thresholds through the same rule API as the
    quality gate (SURVEY §7.1 #5): `drift_bps < X` and `slope >= Y` are
    rules beside completeness/range/unique — one `validate()` call plans
    row-local folds AND monitor passes, and a pipeline reads one
    (rule, checked, violations, ok) verdict surface for both. The rule
    set deliberately includes a passing and a failing drift threshold
    plus a tripped slope floor, so both verdict paths prove end-to-end.
    CLI-expressible: the `validate` subcommand's JSON spec accepts
    `drift_below` / `slope_at_least` rule types."""
    ev = load_table(spark, sf_dir, "events")
    rules = [
        Completeness("value"),
        DriftBelow("event_type", "ts", ALERT_DRIFT_LOOSE_BPS),
        DriftBelow("event_type", "ts", ALERT_DRIFT_TIGHT_BPS),
        SlopeAtLeast("event_type", "ts", ALERT_MIN_SLOPE),
    ]
    return validate(ev, rules).orderBy("rule")


ORACLE_ALERT_RULES = f"""
WITH b AS (
  SELECT epoch_us(min(ts)) AS t_lo, epoch_us(max(ts)) AS t_hi FROM events
), cells AS (
  SELECT event_type,
         CAST(sum(CASE WHEN epoch_us(e.ts) < (b.t_lo + b.t_hi) // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN epoch_us(e.ts) < (b.t_lo + b.t_hi) // 2
                       THEN 0 ELSE 1 END) AS BIGINT) AS n2
  FROM events e CROSS JOIN b
  GROUP BY event_type
), tot AS (
  SELECT sum(n1) AS t1, sum(n2) AS t2 FROM cells
), bps AS (
  SELECT {DRIFT_BPS_DUCK} AS bps FROM cells CROSS JOIN tot
), hb AS (
  SELECT min(epoch_us(ts) // 3600000000) AS h0 FROM events
), hourly AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 - hb.h0 AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events CROSS JOIN hb
  GROUP BY 1, 2
), sl AS (
  SELECT CAST(n_hours * sxy - sx * sy AS DOUBLE)
             / nullif(n_hours * sxx - sx * sx, 0) AS slope
  FROM (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM hourly GROUP BY event_type
  )
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS checked,
         CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS v_comp
  FROM events
), verdicts AS (
  SELECT 'completeness:value' AS rule, checked, v_comp AS violations FROM n
  UNION ALL
  SELECT 'drift:event_type<{ALERT_DRIFT_LOOSE_BPS}bps', n.checked,
         (SELECT CAST(count(*) FILTER (WHERE bps > {ALERT_DRIFT_LOOSE_BPS})
                 AS BIGINT) FROM bps)
  FROM n
  UNION ALL
  SELECT 'drift:event_type<{ALERT_DRIFT_TIGHT_BPS}bps', n.checked,
         (SELECT CAST(count(*) FILTER (WHERE bps > {ALERT_DRIFT_TIGHT_BPS})
                 AS BIGINT) FROM bps)
  FROM n
  UNION ALL
  SELECT 'slope:event_type>={ALERT_MIN_SLOPE}/h', n.checked,
         (SELECT CAST(count(*) FILTER (WHERE slope IS NOT NULL
                 AND slope < {ALERT_MIN_SLOPE}) AS BIGINT) FROM sl)
  FROM n
)
SELECT rule, checked, violations, violations = 0 AS ok
FROM verdicts ORDER BY rule
"""


QUERIES = {
    "validate-constraints": q_validate_constraints,
    "pseudonymize": q_pseudonymize,
    "drift-detect": q_drift_detect,
    "drift-numeric": q_drift_numeric,
    "volume-trend": q_volume_trend,
    "alert-rules": q_alert_rules,
}

ORACLES = {
    "validate-constraints": ORACLE_VALIDATE_CONSTRAINTS,
    "pseudonymize": ORACLE_PSEUDONYMIZE,
    "drift-detect": ORACLE_DRIFT_DETECT,
    "drift-numeric": ORACLE_DRIFT_NUMERIC,
    "volume-trend": ORACLE_VOLUME_TREND,
    "alert-rules": ORACLE_ALERT_RULES,
}
