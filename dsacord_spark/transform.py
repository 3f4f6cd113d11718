"""P1 — the wide typed projection: 36 wire columns -> 40 storage columns
(/root/reference/utils.go:184-247 parseDecision), as ONE select of pure
Column expressions, plus the DQ observe/quarantine split (quirk Q5).

Divergences (SURVEY §2.13): created_at stays NULL instead of panicking
(Q3); snowflake_time is NULL instead of Go zero-time (Q6);
incompatible_content_illegal is kept but never populated (Q4 — faithful).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dsacord_spark.functions.parsing import (
    parse_array_field,
    parse_bool,
    parse_time,
    platform_uid_parts,
)
from dsacord_spark.schema import CSV_COLUMNS, DECISIONS_SCHEMA

_ARRAY_COLS = {
    "decision_visibility",
    "decision_monetary",
    "decision_provision",
    "decision_account",
    "category_specification",
    "content_type",
    "territorial_scope",
}
_TIME_COLS = {
    "end_date_visibility_restriction",
    "end_date_monetary_restriction",
    "end_date_service_restriction",
    "end_date_account_restriction",
    "content_date",
    "application_date",
    "created_at",
}
_BOOL_COLS = {"automated_detection"}


def decisions_transform(wire: DataFrame) -> DataFrame:
    """Wire rows (all-string, possibly with missing columns) -> typed
    decisions rows matching DECISIONS_SCHEMA order."""
    present = set(wire.columns)

    def raw(name: str) -> F.Column:
        # missing column guard (utils.go:185-191): absent -> NULL column
        return F.col(name) if name in present else F.lit(None).cast("string")

    uid_parts = platform_uid_parts(raw("platform_uid"))
    exprs: list[F.Column] = []
    for field in DECISIONS_SCHEMA.fields:
        name = field.name
        if name in _ARRAY_COLS:
            exprs.append(parse_array_field(raw(name)).alias(name))
        elif name in _TIME_COLS:
            exprs.append(parse_time(raw(name)).alias(name))
        elif name in _BOOL_COLS:
            exprs.append(parse_bool(raw(name)).alias(name))
        elif name == "incompatible_content_illegal":  # Q4: never populated
            exprs.append(F.lit(None).cast("boolean").alias(name))
        elif name in ("snowflake_time", "entity_id", "entity_type"):
            exprs.append(uid_parts[name].alias(name))
        elif name == "uuid":
            exprs.append(F.coalesce(raw(name), F.lit("")).alias(name))
        else:
            exprs.append(raw(name).alias(name))
    if "_source_file" in present:
        exprs.append(F.col("_source_file"))
    return wire.select(*exprs)


def split_quarantine(typed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Q5: the reference warns on empty uuid but inserts anyway
    (utils.go:176-178) — an empty-string PK that conflicts on the second
    occurrence. We split instead: (valid, quarantined)."""
    return typed.filter(F.col("uuid") != ""), typed.filter(F.col("uuid") == "")


def with_dq_metrics(typed: DataFrame, name: str = "dq"):
    """df.observe counters replacing the reference's log-warning DQ
    (utils.go:176-178) and its over-counting insertedCount (Q2): exact
    row/empty-uuid/null-created counts, collected as a free side effect of
    the FIRST downstream action (no extra scan). Returns (df, Observation);
    read `observation.get` after an action has run."""
    from pyspark.sql import Observation

    obs = Observation(name)
    df = typed.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("uuid") == "", 1).otherwise(0)).alias("empty_uuid"),
        F.sum(F.when(F.col("created_at").isNull(), 1).otherwise(0)).alias(
            "null_created_at"
        ),
    )
    return df, obs


def observation_ready(obs) -> bool:
    """Whether an action over the observed lineage has completed `obs`,
    checked without blocking (`Observation.get` waits for one). A Dataset
    action (collect, a write, `mapInArrow(...).collect()`) completes it
    before it returns; an RDD action such as `foreachPartition` does not
    on PySpark 4.1.2."""
    return obs._jo is not None and bool(obs._jo.future().isCompleted())
