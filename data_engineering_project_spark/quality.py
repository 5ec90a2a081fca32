"""Declarative data-quality rule engine.

The reference validates row-wise in pandas on the driver
(``src/Task2/warehouse.py:91-256``): required columns (V1), nulls (V2),
negatives (V3), clicks-vs-impressions invariants (V4), hour domain (V5) —
routing offenders to a dead-letter table with a ``validation_error`` reason
and optionally auto-correcting (clip clicks to impressions).

Here the same rules are *column predicates*: one pass splits any DataFrame
into (valid, invalid-with-reasons) without leaving the JVM, so the layer
runs at full scan speed on any input size. Validation is non-fatal like the
reference's (warnings don't block; only missing columns raise — confirmed by
``tests/test_client_report_etl.py:70-74``).

Counters come from ``df.observe`` (Observation API) instead of the
reference's eager ``count()`` actions that re-execute lineage
(``src/Task1/data_processing.py:134-291`` — ≥8 redundant jobs per date).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named validity predicate. ``condition`` is True for VIOLATING rows."""

    name: str  # becomes the validation_error reason string
    condition: Column
    # optional vectorized fix; when set and auto_correct=True the row is
    # corrected in place instead of routed to the dead letter
    correction: dict[str, Column] | None = None


def required_columns(df: DataFrame, required: list[str]) -> None:
    """V1 — missing required columns are a hard error (the only fatal rule,
    reference src/Task2/warehouse.py:107-111)."""
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}")


def null_rule(cols: list[str], name: str = "Contains null values") -> Rule:
    """V2 — any-null-in-required-columns (reference warehouse.py:117-125)."""
    cond = None
    for c in cols:
        pred = F.col(c).isNull()
        cond = pred if cond is None else (cond | pred)
    return Rule(name, cond)


def negative_rule(cols: list[str], name: str = "Contains negative values") -> Rule:
    """V3 — negative counts (reference warehouse.py:128-138)."""
    cond = None
    for c in cols:
        pred = F.col(c) < 0
        cond = pred if cond is None else (cond | pred)
    return Rule(name, cond)


def clicks_exceed_impressions_rule(
    clicks: str = "click_count",
    impressions: str = "impression_count",
    name: str = "Clicks exceed impressions",
) -> Rule:
    """V4 — clicks > impressions; correction clips clicks down
    (reference warehouse.py:141-163, auto_correct clip at :144-148)."""
    return Rule(
        name,
        F.col(clicks) > F.col(impressions),
        correction={clicks: F.least(F.col(clicks), F.col(impressions))},
    )


def domain_rule(col: str, lo: int, hi: int, name: str | None = None) -> Rule:
    """V5 — closed-interval domain check, NULL counts as violating
    (reference hour check, src/Task1/data_processing.py:247-265)."""
    c = F.col(col)
    return Rule(
        name or f"{col} outside [{lo}, {hi}]",
        c.isNull() | (c < lo) | (c > hi),
    )


@dataclass
class SplitResult:
    valid: DataFrame
    invalid: DataFrame  # original columns + validation_error (first reason)
    #: every row with its ``validation_error`` (NULL when valid): the frame
    #: ``valid`` and ``invalid`` filter, for a caller that reads both at once
    tagged: DataFrame
    observation: Observation | None = None
    corrected_rules: list[str] = field(default_factory=list)


def split_valid_invalid(
    df: DataFrame,
    rules: list[Rule],
    *,
    auto_correct: bool = False,
    source_file: str | Column | None = None,
    observe: bool = False,
) -> SplitResult:
    """One-pass split into (valid, invalid) with reason tagging.

    - corrections (when ``auto_correct`` and the rule carries one) are applied
      first, in rule order, so a corrected row can pass later rules — matching
      the reference's sequential pandas flow (warehouse.py:141-163)
    - ``validation_error`` is the FIRST violated rule's name (the reference
      keeps one reason per row via its sequential masks)
    - ``source_file`` populates the dead-letter provenance column
      (reference client_report_invalid.source_file, 01-init-db.sql:23-31)
    - the split is two filters over one cached-by-AQE scan — no Python, no
      driver round-trip; at 100 TB this is a single pass over the data
    """
    corrected: list[str] = []
    if auto_correct:
        for rule in rules:
            if rule.correction:
                for col_name, expr in rule.correction.items():
                    df = df.withColumn(
                        col_name, F.when(rule.condition, expr).otherwise(F.col(col_name))
                    )
                corrected.append(rule.name)
        rules = [r for r in rules if not (auto_correct and r.correction)]

    reason = F.lit(None).cast("string")
    # build reverse so the FIRST rule in list order wins the coalesce
    for rule in reversed(rules):
        reason = F.when(rule.condition, F.lit(rule.name)).otherwise(reason)
    tagged = df.withColumn("validation_error", reason)

    obs = None
    if observe:
        obs = Observation("quality")
        tagged = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.col("validation_error")).alias("n_invalid"),
        )

    valid = tagged.filter(F.col("validation_error").isNull()).drop("validation_error")
    invalid = tagged.filter(F.col("validation_error").isNotNull())
    if source_file is not None:
        src = F.lit(source_file) if isinstance(source_file, str) else source_file
        invalid = invalid.withColumn("source_file", src)
    return SplitResult(
        valid=valid,
        invalid=invalid,
        tagged=tagged,
        observation=obs,
        corrected_rules=corrected,
    )


def classify_count_relationship(
    df: DataFrame,
    clicks: str = "click_count",
    impressions: str = "impression_count",
) -> DataFrame:
    """The reference's richer 3-way classifier
    (``clicks_without_impressions`` / ``clicks_exceed_impressions`` /
    ``impressions_exceed_clicks``, warehouse.py:179-256) as one expression."""
    c, i = F.col(clicks), F.col(impressions)
    label = (
        F.when((i == 0) & (c > 0), "clicks_without_impressions")
        .when(c > i, "clicks_exceed_impressions")
        .when(i > c, "impressions_exceed_clicks")
        .otherwise("equal")
    )
    return df.withColumn("count_relationship", label)
