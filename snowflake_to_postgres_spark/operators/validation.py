"""The 5-layer statistical validation engine (the reference's analytics
core, validator.py) as DataFrame ops.

Reference shape: per table, dozens-to-hundreds of SQL round-trips against
two backends (monthly chunk loops, 50-column NULL chunks, 25-pair MIN/MAX
chunks, one point query per sampled row — validator.py:515-570, :633-718,
:432-433). Spark shape: L1-L4 derive from ONE profile aggregate per side,
both collected together, and L5 is one broadcast join; the chunk loops
disappear because a single groupBy shuffles all partitions at once, and
the per-row PK lookups collapse into that join (SURVEY J3).

Layers (validator.py:47-57):
  L1 row count            (:193-215)
  L2 per-date counts      (:217-277)
  L3 NULL + MIN/MAX       (:279-324, :633-718)
  L4 per-date SUM prints  (:326-405, ≤10 numeric cols :336)
  L5 row sampling         (:407-470)

Comparison semantics re-expressed (N1-N5, validator.py:808-896):
decimal-normalize via exact DecimalType, UTC session timezone for
instant-correct timestamp equality, trimmed strings, date-column
name-hint heuristic, numeric-type classification from StructType.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from snowflake_to_postgres_spark.operators.common import dec, md5_bucket
from snowflake_to_postgres_spark.registry import QuerySpec
from snowflake_to_postgres_spark.sources import load_table

MAX_FINGERPRINT_COLS = 10   # validator.py:336
MAX_DETAIL = 25             # mismatch-detail cap, validator.py:276
SENTINEL_MAX_CHUNKS = 1200  # chunk-guard, validator.py:115-129


@dataclass
class CheckResult:
    """Mirror of validator.py:18-30's per-check outcome."""

    name: str
    passed: bool
    source_value: object = None
    target_value: object = None
    details: list = field(default_factory=list)


@dataclass
class TableValidationResult:
    """Mirror of validator.py:33-44."""

    table: str
    checks: list[CheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(c.passed for c in self.checks)


# --------------------------------------------------------------------------
# Planning helpers (N4/N5 — pure functions over StructType)
# --------------------------------------------------------------------------

_DATE_NAME_HINTS = ("date", "day", "period", "month", "week", "year")


def detect_date_column(schema: T.StructType) -> str | None:
    """N4 (validator.py:808-829): a date/timestamp column whose name
    carries a date-ish hint; else the first date/timestamp column."""
    temporal = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType))
    ]
    for name in temporal:
        if any(h in name.lower() for h in _DATE_NAME_HINTS):
            return name
    return temporal[0] if temporal else None


def numeric_columns(schema: T.StructType) -> list[str]:
    """N5 (validator.py:831-851) via the type system instead of
    type-name string sets."""
    return [f.name for f in schema.fields if isinstance(f.dataType, T.NumericType)]


def check_sentinel_dates(df: DataFrame, date_col: str) -> CheckResult:
    """The reference's >1200-monthly-chunks guard exists to catch
    sentinel dates like 9999-12-31 (validator.py:115-129, :551-554).
    Spark needs no chunking, but the data-quality signal is kept."""
    row = df.agg(
        F.min(F.col(date_col).cast("date")).alias("mn"),
        F.max(F.col(date_col).cast("date")).alias("mx"),
    ).collect()[0]
    if row["mn"] is None:
        return CheckResult("sentinel_dates", True, None, None, ["no dates"])
    months = (row["mx"].year - row["mn"].year) * 12 + (row["mx"].month - row["mn"].month) + 1
    ok = months <= SENTINEL_MAX_CHUNKS
    details = [] if ok else [f"{months} month span — sentinel dates likely ({row['mx']})"]
    return CheckResult("sentinel_dates", ok, str(row["mn"]), str(row["mx"]), details)


# --------------------------------------------------------------------------
# Normalization kernels (N1-N3)
# --------------------------------------------------------------------------

def _norm_col(f: T.StructField) -> Column:
    """Value-normalize a column for cross-side equality:
    N1 numeric → decimal(38,6) (1.10 == 1.1 by construction);
    N2 timestamps are instants under the UTC session (equality correct);
    N3 strings trimmed."""
    c = F.col(f.name)
    if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
        return c.cast("decimal(38,6)")
    if isinstance(f.dataType, T.StringType):
        return F.trim(c)
    return c


# --------------------------------------------------------------------------
# The validator
# --------------------------------------------------------------------------

class DataValidator:
    """Five-layer source-vs-target comparison over two DataFrames.

    The two frames can come from any source/sink pair the engine reads
    (parquet, JDBC, …) — the validation plan is source-agnostic, unlike
    the reference's twin SQL-string generators per backend dialect
    (validator.py:572-621 vs :735-784). L1-L4 share one memoized
    profile: one validator reads one snapshot of its frames."""

    def __init__(
        self,
        source: DataFrame,
        target: DataFrame,
        date_column: str | None = None,
        pk_columns: list[str] | None = None,
        sample_bucket: str = "0",
    ) -> None:
        self.source = source
        self.target = target
        self.date_column = date_column or detect_date_column(source.schema)
        self.pk_columns = pk_columns
        self.sample_bucket = sample_bucket

    # --- L1-L4: one profile per side --------------------------------------
    @cached_property
    def _profile(self) -> list[tuple[list[str], dict]]:
        """(stat columns, {date: row}) of source and target. Per side, one
        aggregate grouped by date (one NULL group without a date column):
        row count, NULL count per column, min/max per numeric and the sums
        of the first MAX_FINGERPRINT_COLS numerics. The two small
        aggregates are unioned and collected once, never the raw rows (a
        JDBC target widens types): 2 × the distinct dates at most."""
        key = (F.col(self.date_column) if self.date_column else F.lit(None)).cast("date")
        aggs = []
        for df in (self.source, self.target):
            nums = numeric_columns(df.schema)
            cols = [F.count("*").alias("cnt")]
            cols += [(F.count("*") - F.count(f.name)).alias(f"null__{f.name}") for f in df.schema.fields]
            for c in nums:
                cols += [F.min(dec(c, 38, 6)).alias(f"min__{c}"), F.max(dec(c, 38, 6)).alias(f"max__{c}")]
            cols += [
                F.sum(dec(c, 38, 6)).cast("decimal(38,6)").alias(f"s__{c}")
                for c in nums[:MAX_FINGERPRINT_COLS]
            ]
            aggs.append(df.groupBy(key.alias("d")).agg(*cols))
        s, t = (a.withColumn("side", F.lit(i)) for i, a in enumerate(aggs))
        groups: tuple[dict, dict] = ({}, {})
        for r in s.unionByName(t, allowMissingColumns=True).collect():
            groups[r["side"]][r["d"]] = r.asDict()
        return [(a.columns[1:], g) for a, g in zip(aggs, groups)]

    def _date_diff(self, cols: list[str], missing) -> list:
        """(date, source values, target values) of ``cols`` wherever the
        sides differ, a date absent from one side reading ``missing``;
        dates sorted NULL first, as Spark sorts them."""
        (_, s), (_, t) = self._profile
        out = []
        for d in sorted(s.keys() | t.keys(), key=lambda d: (d is not None, d)):
            a, b = ([g[d][c] if d in g else missing for c in cols] for g in (s, t))
            if a != b:
                out.append((d, a, b))
        return out[:MAX_DETAIL]

    # --- L1 ---------------------------------------------------------------
    def check_row_count(self) -> CheckResult:
        s, t = (sum(r["cnt"] for r in g.values()) for _, g in self._profile)
        return CheckResult("row_count", s == t, s, t)

    # --- L2 ---------------------------------------------------------------
    def check_partition_counts(self) -> CheckResult:
        if not self.date_column:
            return CheckResult("partition_counts", True, details=["no date column"])
        details = [f"{d}: source={a[0]} target={b[0]}" for d, a, b in self._date_diff(["cnt"], 0)]
        return CheckResult("partition_counts", not details, details=details)

    # --- L3 ---------------------------------------------------------------
    def _totals(self, cols: list[str], groups: dict) -> dict:
        """Whole-side stats from the date groups: NULL counts add and
        min/max combine; the date's min/max are the non-NULL keys'."""
        fold = {"null": sum, "min": lambda v: min(v, default=None), "max": lambda v: max(v, default=None)}
        out = {
            k: fold[k.split("__")[0]]([r[k] for r in groups.values() if r[k] is not None])
            for k in cols
            if k.split("__")[0] in fold
        }
        if self.date_column:
            days = [d for d in groups if d is not None]
            out[f"min__{self.date_column}"] = fold["min"](days)
            out[f"max__{self.date_column}"] = fold["max"](days)
        return out

    def check_column_stats(self) -> CheckResult:
        s, t = (self._totals(*p) for p in self._profile)
        details = [f"{k}: source={s[k]} target={t.get(k)}" for k in s if s[k] != t.get(k)]
        return CheckResult("column_stats", not details, details=details[:MAX_DETAIL])

    # --- L4 ---------------------------------------------------------------
    def check_aggregate_fingerprints(self) -> CheckResult:
        if not self.date_column:
            return CheckResult("aggregate_fingerprints", True, details=["no date column"])
        (s_cols, _), _ = self._profile
        cols = [c for c in s_cols if c == "cnt" or c.startswith("s__")]
        details = [f"{d}: fingerprint mismatch" for d, _, _ in self._date_diff(cols, None)]
        return CheckResult("aggregate_fingerprints", not details, details=details)

    # --- L5 ---------------------------------------------------------------
    def check_row_sample(self) -> CheckResult:
        """Deterministic md5-bucket sample of PK rows, ONE broadcast join
        against the target (vs one point query per row,
        validator.py:432-433), field-wise normalized compare."""
        pks = self.pk_columns
        if not pks:
            return CheckResult("row_sample", True, details=["no pk columns"])
        # PK lookup semantics assume key uniqueness (the reference's
        # per-row point query would silently fan out otherwise); a
        # non-unique key is itself an integrity failure worth surfacing.
        dup = (
            self.source.groupBy(*pks).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            return CheckResult(
                "row_sample", False, details=["pk columns are not unique in source"]
            )
        key = F.md5(F.concat_ws("", *[F.col(c).cast("string") for c in pks]))
        fields = [f for f in self.source.schema.fields if f.name not in pks]
        s = self.source.filter(key.startswith(self.sample_bucket)).select(
            *pks, *[_norm_col(f).alias(f"s_{f.name}") for f in fields]
        )
        t = self.target.select(
            *pks, *[_norm_col(f).alias(f"t_{f.name}") for f in fields]
        )
        j = s.join(F.broadcast(t.join(F.broadcast(s.select(*pks)), pks, "left_semi")), pks, "left")
        mismatch_cond = None
        for f in fields:
            cond = ~F.col(f"s_{f.name}").eqNullSafe(F.col(f"t_{f.name}"))
            mismatch_cond = cond if mismatch_cond is None else (mismatch_cond | cond)
        agg = j.agg(
            F.count("*").alias("sampled"),
            F.sum(F.when(mismatch_cond, 1).otherwise(0)).alias("mismatched"),
            F.count(F.when(F.col(f"t_{fields[0].name}").isNull(), 1)).alias("missing"),
        ).collect()[0]
        n_missing = agg["missing"]
        ok = (agg["mismatched"] or 0) == 0 and n_missing == 0
        details = []
        if n_missing:
            details.append(f"{n_missing} sampled rows missing in target")
        if agg["mismatched"]:
            details.append(f"{agg['mismatched']}/{agg['sampled']} sampled rows differ")
        return CheckResult("row_sample", ok, agg["sampled"], details=details)

    # --- driver -----------------------------------------------------------
    def validate(self, table: str = "table") -> TableValidationResult:
        res = TableValidationResult(table)
        res.checks.append(self.check_row_count())
        res.checks.append(self.check_partition_counts())
        res.checks.append(self.check_column_stats())
        res.checks.append(self.check_aggregate_fingerprints())
        res.checks.append(self.check_row_sample())
        return res


# --------------------------------------------------------------------------
# Registry queries: validator layers as oracle-checkable plans, each run
# against a deterministically corrupted "target" derived from lineitem.
# --------------------------------------------------------------------------

def val_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 as a query: per-date count alignment of source vs a target
    missing one ship-month (seeded corruption) — emits only the
    mismatched dates (validator.py:217-277 + dict-union → full outer)."""
    li = load_table(spark, sf_dir, "lineitem")
    target = li.filter(
        ~(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
    )
    s = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.count("*").alias("src_cnt")
    )
    t = target.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.count("*").alias("tgt_cnt")
    )
    return (
        s.join(t, "d", "full_outer")
        .select(
            "d",
            F.coalesce("src_cnt", F.lit(0)).alias("src_cnt"),
            F.coalesce("tgt_cnt", F.lit(0)).alias("tgt_cnt"),
        )
        .filter(F.col("src_cnt") != F.col("tgt_cnt"))
    )


VAL_PARTITION_ORACLE = """
WITH s AS (
  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS src_cnt FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS tgt_cnt FROM lineitem
  WHERE NOT (l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01')
  GROUP BY 1
)
SELECT COALESCE(s.d, t.d) AS d, COALESCE(src_cnt, 0) AS src_cnt, COALESCE(tgt_cnt, 0) AS tgt_cnt
FROM s FULL OUTER JOIN t ON s.d = t.d
WHERE COALESCE(src_cnt, 0) <> COALESCE(tgt_cnt, 0)
"""


def val_fingerprint_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 as a query: per-date SUM fingerprints vs a target with one
    order's quantity perturbed (+1) — counts match, sums don't; only the
    fingerprint layer catches it (validator.py:326-405)."""
    li = load_table(spark, sf_dir, "lineitem")
    target = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") == 1, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )

    def fp(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
            F.count("*").alias(f"{prefix}_cnt"),
            F.sum(dec("l_quantity")).cast("decimal(38,2)").alias(f"{prefix}_s_qty"),
        )

    s = fp(li, "src")
    t = fp(target, "tgt")
    return (
        s.join(t, "d", "full_outer")
        .filter(
            (~F.col("src_cnt").eqNullSafe(F.col("tgt_cnt")))
            | (~F.col("src_s_qty").eqNullSafe(F.col("tgt_s_qty")))
        )
        .select("d", "src_cnt", "tgt_cnt", "src_s_qty", "tgt_s_qty")
    )


VAL_FINGERPRINT_ORACLE = """
WITH t0 AS (
  SELECT l_shipdate,
         CASE WHEN l_orderkey = 1 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity
  FROM lineitem
),
s AS (
  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS src_cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS src_s_qty
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS tgt_cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS tgt_s_qty
  FROM t0 GROUP BY 1
)
SELECT COALESCE(s.d, t.d) AS d, src_cnt, tgt_cnt, src_s_qty, tgt_s_qty
FROM s FULL OUTER JOIN t ON s.d = t.d
WHERE src_cnt IS DISTINCT FROM tgt_cnt OR src_s_qty IS DISTINCT FROM tgt_s_qty
"""


def val_row_sample_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 as a query: md5-bucket PK sample of orders joined against a
    target whose status is corrupted for a key slice; emits per-key
    field mismatches (validator.py:407-470 collapsed to one join)."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    sample = orders.filter(md5_bucket("o_orderkey", "0")).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("src_status"),
        dec("o_totalprice").alias("src_total"),
    )
    t = target.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("tgt_status"),
        dec("o_totalprice").alias("tgt_total"),
    )
    return (
        sample.join(t, "o_orderkey", "left")
        .filter(
            (~F.col("src_status").eqNullSafe(F.col("tgt_status")))
            | (~F.col("src_total").eqNullSafe(F.col("tgt_total")))
        )
        .select("o_orderkey", "src_status", "tgt_status")
    )


VAL_ROWSAMPLE_ORACLE = """
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END AS tgt_status,
         CAST(o_totalprice AS DECIMAL(18,2)) AS tgt_total
  FROM orders
),
s AS (
  SELECT o_orderkey, o_orderstatus AS src_status, CAST(o_totalprice AS DECIMAL(18,2)) AS src_total
  FROM orders WHERE md5(CAST(o_orderkey AS VARCHAR)) LIKE '0%'
)
SELECT s.o_orderkey, src_status, tgt_status
FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
WHERE src_status IS DISTINCT FROM tgt_status OR src_total IS DISTINCT FROM tgt_total
"""


def schema_drift_report(source, target) -> list[dict]:
    """Schema-drift detection between two DataFrames (or StructTypes):
    the check a long-running sync needs BEFORE row validation — a
    column added, dropped, retyped, or nullability-relaxed upstream
    silently corrupts every downstream diff. Returns one dict per
    drift: {column, kind: added|removed|type_changed|nullability,
    source_type, target_type}. Pure metadata — no data is read."""
    from pyspark.sql import DataFrame as _DF

    src = source.schema if isinstance(source, _DF) else source
    tgt = target.schema if isinstance(target, _DF) else target
    s = {f.name: f for f in src.fields}
    t = {f.name: f for f in tgt.fields}
    drifts: list[dict] = []
    for name in sorted(set(s) | set(t)):
        if name not in t:
            drifts.append({"column": name, "kind": "removed",
                           "source_type": s[name].dataType.simpleString(),
                           "target_type": None})
        elif name not in s:
            drifts.append({"column": name, "kind": "added",
                           "source_type": None,
                           "target_type": t[name].dataType.simpleString()})
        elif s[name].dataType != t[name].dataType:
            drifts.append({"column": name, "kind": "type_changed",
                           "source_type": s[name].dataType.simpleString(),
                           "target_type": t[name].dataType.simpleString()})
        elif s[name].nullable != t[name].nullable:
            drifts.append({"column": name, "kind": "nullability",
                           "source_type": s[name].dataType.simpleString(),
                           "target_type": t[name].dataType.simpleString()})
    return drifts


SPECS = [
    QuerySpec("val_partition_diff", val_partition_diff, VAL_PARTITION_ORACLE),
    QuerySpec("val_fingerprint_diff", val_fingerprint_diff, VAL_FINGERPRINT_ORACLE),
    QuerySpec("val_row_sample_diff", val_row_sample_diff, VAL_ROWSAMPLE_ORACLE),
]


# ---------------------------------------------------------------------------
# Expectation suite (val_expectations) — the dbt-test / Great
# Expectations shape: declarative per-column checks, one violations
# row each, evaluated in a single pass wherever possible.
# ---------------------------------------------------------------------------


def run_expectations(df: DataFrame, checks: "list[tuple[str, Column]]") -> DataFrame:
    """Evaluate violation predicates in ONE aggregation pass: each check
    is (name, boolean violation column); the result is one row per
    check with its violation count and pass verdict. Conditional sums
    over a shared scan — adding a check adds a column, never a pass
    (the reference's validator runs ⌈checks/50⌉ separate queries;
    SURVEY §2.7 note)."""
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias(name)
        for name, pred in checks
    ]
    wide = df.agg(*aggs)
    names = [name for name, _ in checks]
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    return (
        wide.selectExpr(
            f"stack({len(names)}, {stack}) AS (check_name, violations)"
        )
        .select(
            "check_name",
            "violations",
            (F.col("violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


def val_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered suite over orders: not-null, accepted-values, range,
    uniqueness, and referential integrity. The first three are
    violation predicates in one shared aggregation pass
    (:func:`run_expectations`); uniqueness and the FK check need their
    own aggregate/anti-join shapes and union in as two more bounded
    rows. 100-TB shape: one fact scan for the row-local checks, one
    distinct-count aggregate, one broadcast anti-join against the
    dimension — no per-check scans, nothing collected."""
    o = load_table(spark, sf_dir, "orders")
    row_checks = run_expectations(
        o,
        [
            ("accepted_values_orderstatus", ~F.col("o_orderstatus").isin("O", "F", "P")),
            ("not_null_custkey", F.col("o_custkey").isNull()),
            ("range_totalprice_positive", F.col("o_totalprice") <= 0),
        ],
    )
    uniq = o.agg(
        (F.count("*") - F.count_distinct(F.col("o_orderkey")))
        .cast("bigint")
        .alias("violations")
    ).select(
        F.lit("unique_orderkey").alias("check_name"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    # NULL keys are excluded: a missing key is the not-null check's
    # failure, not a dangling reference — and the oracle's NOT IN
    # never counts NULLs, so counting them here would diverge exactly
    # on dirty data (round-9 kernel-test finding).
    fk = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(F.broadcast(cust), "o_custkey", "left_anti")
        .agg(F.count("*").cast("bigint").alias("violations"))
        .select(
            F.lit("fk_custkey_in_customer").alias("check_name"),
            "violations",
            (F.col("violations") == 0).alias("passed"),
        )
    )
    return row_checks.unionByName(uniq).unionByName(fk).orderBy("check_name")


VAL_EXPECTATIONS_ORACLE = """
WITH rowchecks AS (
  SELECT * FROM (VALUES
    ('accepted_values_orderstatus',
     (SELECT CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders)),
    ('not_null_custkey',
     (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders)),
    ('range_totalprice_positive',
     (SELECT CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders)),
    ('unique_orderkey',
     (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)),
    ('fk_custkey_in_customer',
     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)))
  ) AS t(check_name, violations)
)
SELECT check_name, violations, violations = 0 AS passed
FROM rowchecks
ORDER BY check_name
"""


SPECS.append(QuerySpec("val_expectations", val_expectations, VAL_EXPECTATIONS_ORACLE))


# ---------------------------------------------------------------------------
# Round 10: snapshot drift — the validator family extended from "do two
# copies of the SAME data match" (L1-L5) to "did the DISTRIBUTION move
# between two snapshots" (the monitoring question a migrated warehouse
# asks weekly, and the training-data question a corpus refresh asks
# before retraining).
# ---------------------------------------------------------------------------

#: Snapshot split for the drift operators: orders strictly before this
#: date are snapshot A, on/after are snapshot B (~half the date range).
PSI_SPLIT_DATE = "1995-06-17"
PSI_BINS = 10


def _stack_unpivot_expr(
    cols: "list[str]", cast_to: str, value_alias: str = "x"
) -> str:
    """Build the stack() unpivot `stack(n, 'c1', CAST(`c1` AS t), ...)
    AS (column_name, x)` with the column name ESCAPED both as the label
    literal ('' for quotes) and as the backtick identifier (`` for
    backticks) — arbitrary parquet fed through the drift CLI can carry
    names containing either, which previously broke the generated
    expression or mislabeled output (round-10 ADVICE). Backslashes in
    the label double FIRST: Spark's string literals are C-escaped, so
    an undoubled ``a\\b`` mislabels as backspace and a trailing
    backslash escapes the closing quote (ParseException)."""
    pairs = ", ".join(
        "'{}', CAST(`{}` AS {})".format(
            c.replace("\\", "\\\\").replace("'", "''"),
            c.replace("`", "``"),
            cast_to,
        )
        for c in cols
    )
    return f"stack({len(cols)}, {pairs}) AS (column_name, {value_alias})"


def psi_drift(
    df_a: DataFrame, df_b: DataFrame, cols: "list[str]", bins: int = PSI_BINS
) -> DataFrame:
    """Generic two-frame PSI kernel — (column_name, psi, bins_used,
    bins_dropped, n_a, n_b) for each named numeric column, shared
    global bounds from the union, per-bin terms snapped to 1e-6 AS
    INTEGERS and summed exactly, one-sided-empty bins reported rather
    than epsilon-smoothed. Consumed by val_psi_drift (the registered
    snapshot query) and the `drift` CLI verb (arbitrary parquet
    pairs)."""
    stack_expr = _stack_unpivot_expr(cols, "DOUBLE")
    # NULLs are excluded from the PSI domain up front: F.least skips
    # NULL, so a NULL x would land in the TOP bin as fake mass — the
    # same defect class the round-9 ADVICE purged from binned_quantiles
    # (null-RATE drift is val_schema_drift's job, not a histogram's)
    long = (
        df_a.select(F.lit("a").alias("snap"), F.expr(stack_expr))
        .unionByName(df_b.select(F.lit("b").alias("snap"), F.expr(stack_expr)))
        .filter(F.col("x").isNotNull())
    )
    bounds = long.groupBy("column_name").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    binned = (
        long.join(bounds, "column_name")
        .withColumn(
            "bin",
            F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (F.col("x") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * bins
                    ),
                ).cast("int")
            ),
        )
        .groupBy("column_name", "bin")
        .agg(
            F.sum(F.when(F.col("snap") == "a", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("snap") == "b", 1).otherwise(0)).alias("cb"),
        )
    )
    totals = binned.groupBy("column_name").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term_scaled = F.when(
        (F.col("ca") > 0) & (F.col("cb") > 0),
        F.floor((p - q) * F.log(p / q) * 1e6 + F.lit(0.5)).cast("bigint"),
    )
    return (
        binned.join(totals, "column_name")
        .groupBy("column_name")
        .agg(
            (F.sum(term_scaled).cast("double") / 1e6).alias("psi"),
            F.sum(F.when(term_scaled.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("bins_used"),
            F.sum(
                F.when(
                    ((F.col("ca") > 0) | (F.col("cb") > 0))
                    & ((F.col("ca") == 0) | (F.col("cb") == 0)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("bins_dropped"),
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
        )
        .orderBy("column_name")
    )


def psi_drift_vs_reference(
    ref: DataFrame,
    cur: DataFrame,
    cols: "list[str]",
    group_col: str,
    bins: int = PSI_BINS,
) -> DataFrame:
    """Grouped PSI against a FROZEN reference — (group, column_name,
    psi, bins_used, bins_dropped, n_ref, n_cur) for every group in
    ``cur`` (a day, a micro-batch id, …) scored against one fixed
    reference snapshot. Unlike :func:`psi_drift`'s shared union bounds
    (which need BOTH snapshots up front and therefore cannot stream),
    bin bounds here come from the reference alone — the deployed-
    monitoring contract: bins freeze when the reference is taken, and
    out-of-range current values CLAMP to the edge bins (they are drift
    mass, not an error). Consumed by the registered st_drift twin and
    the foreachBatch drift monitor (streaming/pipeline.drift_stream).

    Same determinism as psi_drift: exact integer counts, each matched
    bin's term snapped to the 1e-6 grid AS AN INTEGER and summed
    exactly. bins_dropped counts one-sided bins from BOTH directions —
    current-only bins (left join miss) plus reference bins the group
    never hit (ref_bins_total − matched) — without materializing a
    group×bin grid.

    100-TB shape: one bounds pass over the reference, one
    (column, bin) aggregate per side (map-side combinable), then the
    psi fold over |groups|·|cols|·bins bounded-metadata rows."""
    bounds, ref_counts, ref_meta = psi_reference_artifacts(ref, cols, bins)
    return psi_score_vs_reference(
        bounds, ref_counts, ref_meta, cur, cols, group_col, bins
    )


def _psi_bin_expr(bins: int):
    """Frozen-reference bin assignment: equal-width over the REFERENCE
    [mn, mx]; values outside (possible only on the current side) clamp
    to the edge bins."""
    return F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(bins - 1),
                F.floor(
                    (F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * bins
                ),
            ),
        ).cast("int")
    )


def psi_reference_artifacts(
    ref: DataFrame, cols: "list[str]", bins: int = PSI_BINS
):
    """The frozen reference, reduced to its three BOUNDED artifacts:
    per-column bounds, (column, bin) counts, and per-column totals —
    ≤ |cols|·(bins+2) rows in total. A streaming monitor computes these
    ONCE at setup (collect + createDataFrame — the truly-bounded-frame
    idiom) instead of re-aggregating the reference every micro-batch."""
    ref_long = ref.select(F.expr(_stack_unpivot_expr(cols, "DOUBLE"))).filter(
        F.col("x").isNotNull()
    )
    bounds = ref_long.groupBy("column_name").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    ref_counts = (
        ref_long.join(bounds, "column_name")
        .withColumn("bin", _psi_bin_expr(bins))
        .groupBy("column_name", "bin")
        .agg(F.count("*").alias("ca"))
    )
    ref_meta = ref_counts.groupBy("column_name").agg(
        F.sum("ca").alias("na"), F.count("*").alias("ref_bins")
    )
    return bounds, ref_counts, ref_meta


def psi_score_vs_reference(
    bounds: DataFrame,
    ref_counts: DataFrame,
    ref_meta: DataFrame,
    cur: DataFrame,
    cols: "list[str]",
    group_col: str,
    bins: int = PSI_BINS,
) -> DataFrame:
    """Score ``cur`` groups against precomputed reference artifacts
    (see :func:`psi_reference_artifacts`); the scoring half of
    :func:`psi_drift_vs_reference`."""
    bin_expr = _psi_bin_expr(bins)
    cur_long = cur.select(
        F.col(group_col).alias("g"), F.expr(_stack_unpivot_expr(cols, "DOUBLE"))
    ).filter(F.col("x").isNotNull())
    cur_counts = (
        cur_long.join(bounds, "column_name")
        .withColumn("bin", bin_expr)
        .groupBy("g", "column_name", "bin")
        .agg(F.count("*").alias("cb"))
    )
    cur_tot = cur_counts.groupBy("g", "column_name").agg(F.sum("cb").alias("nb"))
    joined = (
        cur_counts.join(ref_counts, ["column_name", "bin"], "left")
        .join(cur_tot, ["g", "column_name"])
        .join(ref_meta, "column_name")
    )
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term_scaled = F.when(
        F.col("ca").isNotNull(),
        F.floor((p - q) * F.log(p / q) * 1e6 + F.lit(0.5)).cast("bigint"),
    )
    return (
        joined.groupBy("g", "column_name")
        .agg(
            (F.sum(term_scaled).cast("double") / 1e6).alias("psi"),
            F.sum(F.when(term_scaled.isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("bins_used"),
            (
                F.sum(F.when(F.col("ca").isNull(), 1).otherwise(0))
                + F.max("ref_bins")
                - F.sum(F.when(term_scaled.isNotNull(), 1).otherwise(0))
            )
            .cast("bigint")
            .alias("bins_dropped"),
            F.max("na").cast("bigint").alias("n_ref"),
            F.max("nb").cast("bigint").alias("n_cur"),
        )
        .withColumnRenamed("g", group_col)
        .orderBy(group_col, "column_name")
    )


def profile_drift(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Generic two-frame per-column profile diff — (column_name, n_a,
    n_b, nulls_a, nulls_b, distinct_a, distinct_b) over the columns the
    frames SHARE, one unpivoted pass per side (the a4 idiom). Distinct
    counts run on each value's string image (injective in both
    engines). Consumed by val_schema_drift and the `drift` CLI verb."""
    cols = [c for c in df_a.columns if c in set(df_b.columns)]
    if not cols:
        # disjoint schemas: a well-formed empty report, not a
        # stack(0) parse error from the CLI
        return df_a.sparkSession.createDataFrame(
            [],
            "column_name STRING, n_a BIGINT, n_b BIGINT, nulls_a BIGINT, "
            "nulls_b BIGINT, distinct_a BIGINT, distinct_b BIGINT",
        )
    stack_expr = _stack_unpivot_expr(cols, "STRING", value_alias="v")
    long = (
        df_a.select(F.lit("a").alias("snap"), F.expr(stack_expr))
        .unionByName(df_b.select(F.lit("b").alias("snap"), F.expr(stack_expr)))
    )
    agg = long.groupBy("column_name", "snap").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("nulls"),
        F.countDistinct("v").alias("nd"),
    )
    a = agg.filter(F.col("snap") == "a").select(
        "column_name",
        F.col("n").alias("n_a"),
        F.col("nulls").alias("nulls_a"),
        F.col("nd").alias("distinct_a"),
    )
    b = agg.filter(F.col("snap") == "b").select(
        "column_name",
        F.col("n").alias("n_b"),
        F.col("nulls").alias("nulls_b"),
        F.col("nd").alias("distinct_b"),
    )
    return (
        a.join(b, "column_name", "full_outer")
        .select(
            "column_name",
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
                for c in ("n_a", "n_b", "nulls_a", "nulls_b",
                          "distinct_a", "distinct_b")
            ],
        )
        .orderBy("column_name")
    )


def _order_snapshots(spark: SparkSession, sf_dir: str):
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(PSI_SPLIT_DATE).cast("date")
    return o.filter(F.col("o_orderdate") < split), o.filter(
        ~(F.col("o_orderdate") < split)
    )


def val_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per numeric column between the two
    order snapshots — THE standard distribution-drift score
    (credit-risk monitoring lineage): psi = Σ_bins (p−q)·ln(p/q) over
    {PSI_BINS} equi-width bins with SHARED bounds from the union (the
    a21/a23 bin kernel — per-snapshot bounds would make the shares
    incomparable). Bins empty on either side are excluded from the sum
    and reported (bins_dropped) instead of epsilon-smoothed — the
    common ε hack makes psi depend on an arbitrary constant; at these
    bin widths a one-sided-empty bin IS the drift signal, surfaced
    explicitly. Rule-of-thumb reading: <0.10 stable, 0.10-0.25
    moderate, >0.25 shifted.

    Determinism: shares are exact-int ratios; each bin's term is
    non-negative ((p−q) and ln(p/q) share a sign), snapped to the 1e-6
    grid AS AN INTEGER per bin and summed exactly — an unordered
    double sum of libm-ln terms would re-import the summation-order
    problem the engine's other float paths avoid.

    100-TB shape: one bounds pass + one (column, snapshot, bin)
    map-side-combinable aggregate over the unpivoted frame; the psi
    fold runs over |columns|×{PSI_BINS} rows — bounded metadata."""
    a, b = _order_snapshots(spark, sf_dir)
    return psi_drift(a, b, ["o_totalprice", "o_custkey"])


VAL_PSI_ORACLE = f"""
WITH long AS (
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_totalprice' AS column_name, CAST(o_totalprice AS DOUBLE) AS x
  FROM orders
  UNION ALL
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_custkey' AS column_name, CAST(o_custkey AS DOUBLE) AS x
  FROM orders
),
nn AS (SELECT * FROM long WHERE x IS NOT NULL),
bounds AS (
  SELECT column_name, MIN(x) AS mn, MAX(x) AS mx FROM nn GROUP BY column_name
),
binned AS (
  SELECT l.column_name,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE CAST(LEAST({PSI_BINS - 1},
                   floor((l.x - b.mn) / (b.mx - b.mn) * {PSI_BINS})) AS INT) END AS bin,
         SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS cb
  FROM nn l JOIN bounds b USING (column_name)
  GROUP BY 1, 2
),
totals AS (
  SELECT column_name, SUM(ca) AS na, SUM(cb) AS nb FROM binned GROUP BY column_name
),
terms AS (
  SELECT binned.column_name, ca, cb,
         CASE WHEN ca > 0 AND cb > 0
              THEN CAST(floor((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                     * ln((CAST(ca AS DOUBLE) / na) / (CAST(cb AS DOUBLE) / nb))
                     * 1000000.0 + 0.5) AS BIGINT)
              ELSE NULL END AS term_scaled,
         na, nb
  FROM binned JOIN totals USING (column_name)
)
SELECT column_name,
       CAST(SUM(term_scaled) AS DOUBLE) / 1000000.0 AS psi,
       CAST(SUM(CASE WHEN term_scaled IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bins_used,
       CAST(SUM(CASE WHEN (ca > 0 OR cb > 0) AND (ca = 0 OR cb = 0) THEN 1 ELSE 0 END) AS BIGINT) AS bins_dropped,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b
FROM terms
GROUP BY column_name
ORDER BY column_name
"""


SPECS.append(QuerySpec("val_psi_drift", val_psi_drift, VAL_PSI_ORACLE))


def val_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile drift between the two order snapshots: row
    counts, NULL counts, and distinct counts side by side — the
    schema-level companion to val_psi_drift's distribution score (a
    column whose null rate doubles or whose distinct count collapses
    is drifting even when its value histogram looks stable). All
    exact integers; distinct counts run on the string image of each
    value (injective in both engines, so the cardinality matches the
    oracle's native-typed COUNT(DISTINCT)).

    100-TB shape: the a4 single-pass idiom — one unpivoted
    (column, snapshot) aggregate, no per-column queries."""
    a, b = _order_snapshots(spark, sf_dir)
    return profile_drift(a, b)


def _schema_drift_oracle() -> str:
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    blocks = []
    for c in cols:
        blocks.append(f"""
SELECT '{c}' AS column_name,
       CAST(COALESCE(SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_a,
       CAST(COALESCE(SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_b,
       CAST(COALESCE(SUM(CASE WHEN snap = 'a' AND {c} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nulls_a,
       CAST(COALESCE(SUM(CASE WHEN snap = 'b' AND {c} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nulls_b,
       CAST(COUNT(DISTINCT CASE WHEN snap = 'a' THEN {c} END) AS BIGINT) AS distinct_a,
       CAST(COUNT(DISTINCT CASE WHEN snap = 'b' THEN {c} END) AS BIGINT) AS distinct_b
FROM snapped""")
    return (
        f"WITH snapped AS (SELECT *, CASE WHEN o_orderdate < DATE "
        f"'{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap FROM orders)"
        + "\nUNION ALL\n".join(blocks)
        + "\nORDER BY column_name"
    )


VAL_SCHEMA_DRIFT_ORACLE = _schema_drift_oracle()

SPECS.append(
    QuerySpec("val_schema_drift", val_schema_drift, VAL_SCHEMA_DRIFT_ORACLE)
)


#: KS prefix-sum bucketing (values per bucket bounded by data density,
#: bucket COUNT bounded by KS_BUCKETS; superbuckets recurse once more).
KS_BUCKETS = 4096

#: Buckets per superbucket for the KS three-level prefix-sum recursion:
#: 4096 buckets fold into 64 superbuckets of 64, so the global window of
#: the top level runs over ≤64 rows per column and the mid level over
#: ≤64 buckets per (column, superbucket). Round-10 verdict #2 / ADVICE:
#: the previous divisor was KS_BUCKETS itself, making sbkt identically 0
#: and the top level dead code — the recursion is now real (pinned by
#: test_ks_superbucket_level_is_real).
KS_SUPER_WIDTH = 64


def _ks_bucketed(per_val_with_bounds: DataFrame) -> DataFrame:
    """Assign the order-aligned (bkt, sbkt) decomposition keys: equal-
    width value buckets over the column's [mn, mx] range (degenerate
    single-value columns collapse to bucket 0), superbuckets of
    KS_SUPER_WIDTH buckets. Extracted so the decomposition SHAPE is
    unit-testable (sbkt must take >1 value on a wide column)."""
    return per_val_with_bounds.withColumn(
        "bkt",
        F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.lit(KS_BUCKETS - 1),
                F.floor(
                    (F.col("x") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * KS_BUCKETS
                ),
            )
        ).cast("int"),
    ).withColumn("sbkt", F.expr(f"bkt div {KS_SUPER_WIDTH}"))


def ks_drift(
    df_a: DataFrame, df_b: DataFrame, cols: "list[str]"
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per numeric column —
    D = max_x |F_a(x) − F_b(x)|, the distribution-free companion to
    :func:`psi_drift` (PSI sees WHERE mass moved between bins; KS sees
    the single worst CDF gap at full value resolution, no binning
    loss). Emits (column_name, ks_d, x_at_max, n_a, n_b).

    Determinism: the maximised quantity is the EXACT integer
    |cum_a·n_b − cum_b·n_a| carried as DECIMAL(38,0) (n up to 10¹²
    squares past bigint), so the argmax comparison can never suffer a
    float boundary flip; the single final division is snapped to the
    1e-9 grid; x_at_max ties break on smallest x via one
    TakeOrderedAndProject row per column. NULLs are excluded (the
    psi_drift contract).

    100-TB shape: one (column, value) map-side-combinable aggregate,
    then the two CDF prefix sums run as the engine's THREE-level
    decomposition (per-bucket window over order-aligned value buckets,
    per-superbucket carry over ≤KS_SUPER_WIDTH buckets, global window
    over the ≤KS_BUCKETS/KS_SUPER_WIDTH per-superbucket totals only —
    the dense_ids / st_lateness_audit pattern); the oracle replays the
    naive global window, so the value-hash gate itself proves the
    decomposition."""
    from pyspark.sql.window import Window

    spark = df_a.sparkSession
    stack_expr = _stack_unpivot_expr(cols, "DOUBLE")
    long = (
        df_a.select(F.lit("a").alias("snap"), F.expr(stack_expr))
        .unionByName(df_b.select(F.lit("b").alias("snap"), F.expr(stack_expr)))
        .filter(F.col("x").isNotNull())
    )
    per_val = long.groupBy("column_name", "x").agg(
        F.sum(F.when(F.col("snap") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("snap") == "b", 1).otherwise(0)).alias("cb"),
    )
    bounds = per_val.groupBy("column_name").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    v = _ks_bucketed(per_val.join(bounds, "column_name"))
    within = Window.partitionBy("column_name", "bkt").orderBy("x")
    bkt_tot = v.groupBy("column_name", "sbkt", "bkt").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    within_super = Window.partitionBy("column_name", "sbkt").orderBy(
        "bkt"
    ).rowsBetween(Window.unboundedPreceding, -1)
    super_tot = bkt_tot.groupBy("column_name", "sbkt").agg(
        F.sum("ta").alias("sa"), F.sum("tb").alias("sb")
    )
    super_carry = super_tot.select(
        "column_name",
        "sbkt",
        F.coalesce(
            F.sum("sa").over(
                Window.partitionBy("column_name").orderBy("sbkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("sca"),
        F.coalesce(
            F.sum("sb").over(
                Window.partitionBy("column_name").orderBy("sbkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("scb"),
    )
    carry = (
        bkt_tot.withColumn(
            "ia", F.coalesce(F.sum("ta").over(within_super), F.lit(0))
        )
        .withColumn("ib", F.coalesce(F.sum("tb").over(within_super), F.lit(0)))
        .join(super_carry, ["column_name", "sbkt"])
        .select(
            "column_name",
            "bkt",
            (F.col("ia") + F.col("sca")).alias("carry_a"),
            (F.col("ib") + F.col("scb")).alias("carry_b"),
        )
    )
    cum = (
        v.withColumn("wa", F.coalesce(F.sum("ca").over(within), F.lit(0)))
        .join(carry, ["column_name", "bkt"])
        .withColumn("cum_a", F.col("wa") + F.col("carry_a"))
        .withColumn(
            "cum_b",
            F.coalesce(
                F.sum("cb").over(
                    Window.partitionBy("column_name", "bkt").orderBy("x")
                ),
                F.lit(0),
            )
            + F.col("carry_b"),
        )
    )
    # exact integer gap: |cum_a*nb - cum_b*na| in DECIMAL(38,0)
    gap = F.abs(
        F.col("cum_a").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)")
        - F.col("cum_b").cast("decimal(19,0)") * F.col("na").cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    scored = cum.select(
        "column_name", "x", gap.alias("gap"), "na", "nb"
    )
    w_max = Window.partitionBy("column_name").orderBy(
        F.col("gap").desc(), F.col("x")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w_max))
        .filter(F.col("rn") == 1)
        .select(
            "column_name",
            (
                F.floor(
                    F.col("gap").cast("double")
                    / (F.col("na").cast("double") * F.col("nb").cast("double"))
                    * 1e9
                    + F.lit(0.5)
                )
                / 1e9
            ).alias("ks_d"),
            F.col("x").alias("x_at_max"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
        )
        .orderBy("column_name")
    )
    return top


def val_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered KS drift between the two order snapshots (the
    val_psi_drift split), per numeric column — see :func:`ks_drift`."""
    a, b = _order_snapshots(spark, sf_dir)
    return ks_drift(a, b, ["o_totalprice", "o_custkey"])


VAL_KS_ORACLE = f"""
WITH long AS (
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_totalprice' AS column_name, CAST(o_totalprice AS DOUBLE) AS x
  FROM orders
  UNION ALL
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_custkey' AS column_name, CAST(o_custkey AS DOUBLE) AS x
  FROM orders
),
per_val AS (
  SELECT column_name, x,
         SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS cb
  FROM long WHERE x IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT column_name, SUM(ca) AS na, SUM(cb) AS nb FROM per_val GROUP BY 1
),
cum AS (
  -- the NAIVE global ordered prefix sum the Spark side decomposes
  SELECT column_name, x,
         SUM(ca) OVER (PARTITION BY column_name ORDER BY x) AS cum_a,
         SUM(cb) OVER (PARTITION BY column_name ORDER BY x) AS cum_b
  FROM per_val
),
gaps AS (
  SELECT cum.column_name, x,
         abs(CAST(cum_a AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
             - CAST(cum_b AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))) AS gap,
         na, nb
  FROM cum JOIN tot ON tot.column_name = cum.column_name
)
SELECT column_name,
       floor(CAST(gap AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             * 1000000000.0 + 0.5) / 1000000000.0 AS ks_d,
       x AS x_at_max,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY column_name
                               ORDER BY gap DESC, x) AS rn
  FROM gaps
) WHERE rn = 1
ORDER BY column_name
"""


SPECS.append(QuerySpec("val_ks_drift", val_ks_drift, VAL_KS_ORACLE))


# ---------------------------------------------------------------------------
# Chi-square categorical drift (round 11) — the categorical companion to
# psi_drift (numeric histograms) and ks_drift (numeric CDFs): the drift
# family previously had NO score for string columns, which the drift CLI
# simply excluded. Pearson's two-sample chi-square over category cells
# answers "did the category mix move between snapshots".
# ---------------------------------------------------------------------------

#: Categories kept per column before folding the tail into one
#: ``<OTHER>`` cell — keeps the statistic's cell table bounded metadata
#: at ANY column cardinality (a URL-ish column would otherwise make the
#: per-column cell set corpus-sized). 3 is deliberately small so the
#: fold path is exercised against the oracle at test SFs
#: (o_orderpriority has 5 values → 2 fold into <OTHER>).
CHI2_TOP_CATEGORIES = 3
#: Estimate+raise guard on the distinct-category aggregate (the dedup
#: pair-volume / a22 group-cardinality discipline): the top-K fold runs
#: a per-column ROW_NUMBER over DISTINCT categories, which is fine for
#: enum-ish columns but the wrong tool for id-like ones — fail loudly.
CHI2_MAX_DISTINCT = 100_000


def chi2_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: "list[str]",
    top_k: int = CHI2_TOP_CATEGORIES,
    max_distinct: int = CHI2_MAX_DISTINCT,
) -> DataFrame:
    """Generic two-frame chi-square kernel — (column_name, chi2, dof,
    cramers_v, n_cells, n_folded, n_a, n_b) for each named categorical
    column. Cells are the top-``top_k`` categories by pooled count
    (ties on category value) plus one ``<OTHER>`` fold; expected counts
    come from the pooled margins. NULL categories are excluded (null-
    RATE drift is val_schema_drift's job — the psi_drift rule).

    Determinism: cell counts are exact ints; each cell's
    (obs−exp)²/exp term is an identical chain of IEEE double ops,
    snapped to the 1e-6 grid AS AN INTEGER and summed exactly (the PSI
    idiom). Cramér's V = sqrt(chi2/N) (two-sample ⇒ min(r,c)−1 = 1) is
    one sqrt on the already-snapped statistic.

    100-TB shape: one (column, category) map-side-combinable aggregate;
    the distinct-category guard collects |cols| rows; the top-K window
    runs over distinct categories only (guarded ≤ max_distinct); the
    chi-square fold sees ≤ (top_k+1) cells per column — bounded
    metadata."""
    stack_expr = _stack_unpivot_expr(cols, "STRING", "cat")
    long = (
        df_a.select(F.lit("a").alias("snap"), F.expr(stack_expr))
        .unionByName(df_b.select(F.lit("b").alias("snap"), F.expr(stack_expr)))
        .filter(F.col("cat").isNotNull())
    )
    cells = long.groupBy("column_name", "cat").agg(
        F.sum(F.when(F.col("snap") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("snap") == "b", 1).otherwise(0)).alias("cb"),
    )
    # estimate+raise guard: |cols| result rows over the wire. The same
    # bounded pass also vets per-side support — a column with zero
    # non-NULL values on either side (all-NULL drift, schema decay)
    # would divide by a zero expected count below (ANSI: crash;
    # non-ANSI: a silent chi2=0 "no drift"), so it raises explicitly.
    card = cells.groupBy("column_name").agg(
        F.count("*").alias("n_cat"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    ).collect()
    over = {r["column_name"]: r["n_cat"] for r in card if r["n_cat"] > max_distinct}
    if over:
        raise ValueError(
            f"chi2_drift: distinct-category cardinality exceeds {max_distinct} "
            f"for {sorted(over)} — an id-like column; use psi_drift on a hash "
            "or pick an enum-ish column"
        )
    empty = sorted(
        set(cols) - {r["column_name"] for r in card}
    ) + sorted(r["column_name"] for r in card if r["na"] == 0 or r["nb"] == 0)
    if empty:
        raise ValueError(
            f"chi2_drift: no non-NULL values on one or both sides for {empty} "
            "— cannot form expected counts; the column is itself the drift "
            "finding (all-NULL / dropped on one snapshot)"
        )
    w = Window.partitionBy("column_name").orderBy(
        (F.col("ca") + F.col("cb")).desc(), "cat"
    )
    folded = (
        cells.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cell", F.when(F.col("rnk") <= top_k, F.col("cat")).otherwise("<OTHER>")
        )
        .groupBy("column_name", "cell")
        .agg(
            F.sum("ca").alias("ca"),
            F.sum("cb").alias("cb"),
            F.sum(F.when(F.col("rnk") > top_k, 1).otherwise(0)).alias("n_from_fold"),
        )
    )
    totals = folded.groupBy("column_name").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    j = folded.join(totals, "column_name")
    n_d = (F.col("na") + F.col("nb")).cast("double")
    cc_d = (F.col("ca") + F.col("cb")).cast("double")
    ea = F.col("na").cast("double") * cc_d / n_d
    eb = F.col("nb").cast("double") * cc_d / n_d
    a_d, b_d = F.col("ca").cast("double"), F.col("cb").cast("double")
    term = (a_d - ea) * (a_d - ea) / ea + (b_d - eb) * (b_d - eb) / eb
    term_scaled = F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    return (
        j.groupBy("column_name")
        .agg(
            (F.sum(term_scaled).cast("double") / F.lit(1e6)).alias("chi2"),
            (F.count("*") - F.lit(1)).cast("bigint").alias("dof"),
            F.sqrt(
                (F.sum(term_scaled).cast("double") / F.lit(1e6))
                / (F.max("na") + F.max("nb")).cast("double")
            ).alias("cramers_v"),
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum(F.when(F.col("n_from_fold") > 0, F.col("n_from_fold")).otherwise(0))
            .cast("bigint")
            .alias("n_folded"),
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
        )
        .orderBy("column_name")
    )


def val_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square category-mix drift between the two order snapshots on
    the enum-ish string columns (o_orderstatus genuinely drifts across
    the date split — later orders skew toward 'O'; o_orderpriority is
    uniform by construction, giving the kernel one drifting and one
    stable column to score). See :func:`chi2_drift`."""
    a, b = _order_snapshots(spark, sf_dir)
    return chi2_drift(a, b, ["o_orderstatus", "o_orderpriority"])


def _chi2_oracle() -> str:
    k = CHI2_TOP_CATEGORIES
    return f"""
WITH long AS (
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_orderstatus' AS column_name, CAST(o_orderstatus AS VARCHAR) AS cat
  FROM orders
  UNION ALL
  SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}' THEN 'a' ELSE 'b' END AS snap,
         'o_orderpriority' AS column_name, CAST(o_orderpriority AS VARCHAR) AS cat
  FROM orders
),
cells AS (
  SELECT column_name, cat,
         SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS cb
  FROM long WHERE cat IS NOT NULL
  GROUP BY column_name, cat
),
folded AS (
  SELECT column_name,
         CASE WHEN rnk <= {k} THEN cat ELSE '<OTHER>' END AS cell,
         SUM(ca) AS ca, SUM(cb) AS cb,
         SUM(CASE WHEN rnk > {k} THEN 1 ELSE 0 END) AS n_from_fold
  FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY column_name ORDER BY ca + cb DESC, cat) AS rnk
    FROM cells) r
  GROUP BY 1, 2
),
totals AS (
  SELECT column_name, SUM(ca) AS na, SUM(cb) AS nb FROM folded GROUP BY column_name
),
terms AS (
  SELECT folded.column_name, n_from_fold,
         CAST(floor(
           ((CAST(ca AS DOUBLE) - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            * (CAST(ca AS DOUBLE) - CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            / (CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
          + (CAST(cb AS DOUBLE) - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            * (CAST(cb AS DOUBLE) - CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            / (CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
           * 1000000.0 + 0.5) AS BIGINT) AS term_scaled,
         na, nb
  FROM folded JOIN totals USING (column_name)
)
SELECT column_name,
       CAST(SUM(term_scaled) AS DOUBLE) / 1000000.0 AS chi2,
       CAST(COUNT(*) - 1 AS BIGINT) AS dof,
       sqrt((CAST(SUM(term_scaled) AS DOUBLE) / 1000000.0)
            / CAST(MAX(na) + MAX(nb) AS DOUBLE)) AS cramers_v,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN n_from_fold > 0 THEN n_from_fold ELSE 0 END) AS BIGINT) AS n_folded,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b
FROM terms
GROUP BY column_name
ORDER BY column_name
"""


VAL_CHI2_ORACLE = _chi2_oracle()

SPECS.append(QuerySpec("val_chi2_drift", val_chi2_drift, VAL_CHI2_ORACLE))


# ---------------------------------------------------------------------------
# Referential-integrity audit (round 11) — the post-migration FK check.
#
# The reference DISCOVERS foreign keys (discovery.py:34-43 Constraint,
# ConstraintType.FOREIGN_KEY) and topologically sorts them for DDL
# (sf_migrate.py FK ordering), but its 5-layer validator never verifies
# that the migrated data still SATISFIES them. This audit closes that
# loop: one bounded row per FK edge of the TPC-H-ish schema with row,
# key, orphan, and NULL-key counts.
# ---------------------------------------------------------------------------

#: (fk_name, child_table, child_key, parent_table, parent_key,
#:  broadcast_parent). Parent key sets of region/nation are constant-
#: bounded (5 / 25 rows) → broadcast; customer/orders/part/supplier key
#: sets scale with the data → shuffle hash join on the key.
_FK_EDGES: list[tuple[str, str, str, str, str, bool]] = [
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey", True),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey", True),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey", True),
]


def val_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK edge: per edge, child rows, distinct
    non-NULL child keys, orphan rows/keys (non-NULL key with no parent),
    and NULL-key rows, plus the pass verdict.

    Shape per edge: the child pre-aggregates to its (key, count) frame —
    the join side shrinks from |child| rows to |distinct keys| BEFORE the
    parent lookup — then ONE left join against the parent's distinct key
    set marks hits, and ONE aggregate folds the marked frame to a single
    row. 100-TB shape: the heavy edges (lineitem→orders/part/supplier)
    shuffle once on the key for the pre-aggregate (map-side combined)
    and hash-join key-set vs key-set; constant-size parents broadcast.
    Seven bounded rows union — no per-check rescans of any child.

    Round 14 (guide §7.3 — driver latency): the query is built as ONE
    ``spark.sql`` string with DataFrame substitution instead of the
    incremental 7-edge DataFrame chain. The DataFrame API re-analyzes
    the growing logical plan at every operator (the unionByName tail is
    quadratic in edges) and pays a py4j round-trip per expression;
    parsing + analyzing one SQL tree costs a single JVM pass. Measured
    (paired ABAB, identical rows): construct 1.11 → 0.14 s median,
    total 2.21 → 1.14 s at sf0.1. The physical plan per edge is
    unchanged (same pre-aggregate, same left join, same fold; the
    BROADCAST hint replaces F.broadcast on the constant-size
    parents)."""
    parts = []
    frames: dict[str, DataFrame] = {}
    for i, (fk_name, child_t, ckey, parent_t, pkey, bcast) in enumerate(_FK_EDGES):
        frames[f"c{i}"] = load_table(spark, sf_dir, child_t)
        frames[f"p{i}"] = load_table(spark, sf_dir, parent_t)
        hint = "/*+ BROADCAST(p) */ " if bcast else ""
        parts.append(f"""
SELECT {hint}'{fk_name}' AS fk_name, '{child_t}' AS child_table,
       '{parent_t}' AS parent_table,
       CAST(SUM(n) AS BIGINT) AS n_child_rows,
       CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_child_keys,
       CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN n END), 0) AS BIGINT) AS n_orphan_rows,
       CAST(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN n END), 0) AS BIGINT) AS n_null_key_rows,
       (COALESCE(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN n END), 0) = 0
        AND COALESCE(SUM(CASE WHEN k IS NULL THEN n END), 0) = 0) AS ref_intact
FROM (SELECT {ckey} AS k, COUNT(*) AS n FROM {{c{i}}} GROUP BY {ckey}) c
LEFT JOIN (SELECT DISTINCT {pkey} AS k, 1 AS hit FROM {{p{i}}}) p USING (k)""")
    sql = "\nUNION ALL\n".join(parts) + "\nORDER BY fk_name"
    return spark.sql(sql, **frames)


def _ref_integrity_oracle() -> str:
    parts = []
    for fk_name, child_t, ckey, parent_t, pkey, _ in _FK_EDGES:
        parts.append(f"""
SELECT '{fk_name}' AS fk_name, '{child_t}' AS child_table,
       '{parent_t}' AS parent_table,
       CAST(SUM(n) AS BIGINT) AS n_child_rows,
       CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_child_keys,
       CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN n END), 0) AS BIGINT) AS n_orphan_rows,
       CAST(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
       CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN n END), 0) AS BIGINT) AS n_null_key_rows,
       (COALESCE(SUM(CASE WHEN k IS NOT NULL AND hit IS NULL THEN n END), 0) = 0
        AND COALESCE(SUM(CASE WHEN k IS NULL THEN n END), 0) = 0) AS ref_intact
FROM (SELECT {ckey} AS k, COUNT(*) AS n FROM {child_t} GROUP BY 1) c
LEFT JOIN (SELECT DISTINCT {pkey} AS k, 1 AS hit FROM {parent_t}) p USING (k)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY fk_name"


VAL_REF_INTEGRITY_ORACLE = _ref_integrity_oracle()

SPECS.append(
    QuerySpec(
        "val_referential_integrity",
        val_referential_integrity,
        VAL_REF_INTEGRITY_ORACLE,
    )
)


def fk_orphan_counts(
    child: DataFrame, key_col: str, parent_keys: DataFrame, group_col: str
) -> DataFrame:
    """Per-group FK audit kernel shared by the streaming orphan monitor
    (streaming/pipeline.orphan_audit_stream + its batch twin
    st_orphan_audit) — val_referential_integrity's check re-keyed by a
    group column so each micro-batch / day reports its own counts.

    ``parent_keys`` must be a single-column ``k`` distinct key frame;
    the child marks rows via ONE left join against it (broadcast-sized
    dims broadcast on their own; corpus-scale dims hash-join on the
    key) and folds to |groups| bounded rows in one map-side-combinable
    aggregate. Internal working columns use collision-proof ``__fk_*``
    names so a child frame that already carries ``k``/``hit`` (or a
    ``group_col`` literally named ``k``) cannot clobber the join."""
    if group_col in ("__fk_k", "__fk_hit"):
        raise ValueError(f"fk_orphan_counts: reserved group_col {group_col!r}")
    marked = child.select(group_col, F.col(key_col).alias("__fk_k")).join(
        parent_keys.select(F.col("k").alias("__fk_k")).withColumn(
            "__fk_hit", F.lit(1)
        ),
        "__fk_k",
        "left",
    )
    null_k = F.col("__fk_k").isNull()
    orphan = F.col("__fk_k").isNotNull() & F.col("__fk_hit").isNull()
    return marked.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(orphan, 1).otherwise(0)).cast("bigint").alias("n_orphan_rows"),
        F.sum(F.when(null_k, 1).otherwise(0)).cast("bigint").alias("n_null_key_rows"),
    )


# ---------------------------------------------------------------------------
# k-anonymity release gate (round 12): before a table (or a training
# corpus's metadata sidecar) leaves the warehouse, every quasi-identifier
# combination must describe at least K individuals — groups below K are
# re-identification risks the release must suppress or generalize.
# ---------------------------------------------------------------------------

K_ANON_K = 5
K_ANON_QUASI = ("c_nationkey", "c_mktsegment")


def k_anonymity_report(df: DataFrame, quasi: list[str], k: int) -> DataFrame:
    """Per quasi-identifier combination: group size and the below-k
    verdict. ONE map-side-combinable aggregate over the quasi columns —
    |distinct combinations| bounded output, no second scan. Shared by
    the registered gate and any CLI caller."""
    return (
        df.groupBy(*quasi)
        .agg(F.count("*").cast("bigint").alias("group_size"))
        .withColumn("below_k", F.col("group_size") < k)
    )


def val_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity gate over the customer dimension's quasi-identifiers
    (nation × market segment, K_ANON_K = 5): one row per combination
    with its population and verdict, plus a '<TOTAL>' summary row
    carrying the released-table verdict (n_below_k groups, min group
    size). Sweeney's k-anonymity as a warehouse release check.

    100-TB shape: one hash aggregate over the quasi columns (output
    bounded by the quasi-domain product), one |groups|-row fold for the
    summary — nothing key-domain-sized leaves the aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    rep = k_anonymity_report(cust, list(K_ANON_QUASI), K_ANON_K)
    detail = rep.select(
        F.col(K_ANON_QUASI[0]).cast("string").alias("quasi_nation"),
        F.col(K_ANON_QUASI[1]).alias("quasi_segment"),
        "group_size",
        "below_k",
    )
    summary = rep.agg(
        F.sum(F.when(F.col("below_k"), 1).otherwise(0)).cast("bigint").alias("n_below"),
        F.min("group_size").cast("bigint").alias("min_size"),
    ).select(
        F.lit("<TOTAL>").alias("quasi_nation"),
        F.lit("<TOTAL>").alias("quasi_segment"),
        F.col("min_size").alias("group_size"),
        (F.col("n_below") > 0).alias("below_k"),
    )
    return detail.unionByName(summary).orderBy("quasi_nation", "quasi_segment")


VAL_K_ANON_ORACLE = f"""
WITH rep AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
  FROM customer GROUP BY 1, 2
)
SELECT CAST(c_nationkey AS VARCHAR) AS quasi_nation,
       c_mktsegment AS quasi_segment,
       CAST(group_size AS BIGINT) AS group_size,
       group_size < {K_ANON_K} AS below_k
FROM rep
UNION ALL
SELECT '<TOTAL>', '<TOTAL>',
       CAST(MIN(group_size) AS BIGINT),
       SUM(CASE WHEN group_size < {K_ANON_K} THEN 1 ELSE 0 END) > 0
FROM rep
ORDER BY quasi_nation, quasi_segment
"""


SPECS.append(QuerySpec("val_k_anonymity", val_k_anonymity, VAL_K_ANON_ORACLE))


# ---------------------------------------------------------------------------
# Benford first-digit audit (round 14, session 2) — the classic
# fabricated-data detector for financial columns (Benford 1938; the
# forensic-accounting standard): organically-grown amounts follow
# P(d) = log10(1+1/d); hand-entered or synthesized values don't. Run on
# o_totalprice as the engine's data-forensics primitive.
#
# Determinism: NO runtime log — the nine expected shares are
# precomputed ppm literals. The first significant digit comes from
# integer arithmetic only: cents = floor(x·100 + 0.5) (explicit floor —
# DuckDB's double→int CAST rounds while Spark's truncates, so neither
# engine's bare cast is used), then the leading character of the
# INTEGER's decimal rendering (int→string is render-identical across
# engines; double→string is not, which is why the digit is never taken
# from the raw value's text).
# ---------------------------------------------------------------------------

#: floor(log10(1+1/d) * 1e6), d = 1..9
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)


def val_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per first-digit row: (digit, observed, obs_ppm, exp_ppm,
    dev_ppm) over positive order totals. obs_ppm is exact integer
    floor-division; dev is signed. Conformity reads as max|dev| or the
    MAD over the nine rows.

    100-TB shape: one projection + one 9-bucket map-side-combined
    count; the expected table is nine literals."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.substring(
        F.expr("cast(cast(floor(o_totalprice * 100 + 0.5) as bigint) as string)"),
        1,
        1,
    ).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("observed"))
    )
    exp = spark.createDataFrame(
        [(d + 1, BENFORD_PPM[d]) for d in range(9)],
        "digit int, exp_ppm bigint",
    )
    total = orders.count()
    return (
        exp.join(counts, "digit", "left")
        .select(
            "digit",
            F.coalesce("observed", F.lit(0)).cast("bigint").alias("observed"),
            F.expr(f"div(coalesce(observed, 0) * 1000000L, {total}L)")
            .cast("bigint")
            .alias("obs_ppm"),
            "exp_ppm",
            (
                F.expr(f"div(coalesce(observed, 0) * 1000000L, {total}L)")
                - F.col("exp_ppm")
            )
            .cast("bigint")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    exp_rows = ", ".join(f"({d+1}, {BENFORD_PPM[d]})" for d in range(9))
    return f"""
WITH pos AS (SELECT o_totalprice FROM orders WHERE o_totalprice > 0),
tot AS (SELECT COUNT(*) AS n FROM pos),
digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM pos),
counts AS (SELECT digit, COUNT(*) AS observed FROM digits GROUP BY digit),
exp(digit, exp_ppm) AS (VALUES {exp_rows})
SELECT e.digit,
       CAST(COALESCE(c.observed, 0) AS BIGINT) AS observed,
       CAST((COALESCE(c.observed, 0) * 1000000) // tot.n AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST((COALESCE(c.observed, 0) * 1000000) // tot.n - e.exp_ppm AS BIGINT)
         AS dev_ppm
FROM exp e LEFT JOIN counts c USING (digit) CROSS JOIN tot
ORDER BY e.digit
"""


SPECS.append(QuerySpec("val_benford", val_benford, _benford_oracle()))
