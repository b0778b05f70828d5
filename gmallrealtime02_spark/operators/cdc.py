"""CDC envelope ops + ODS splitter (SURVEY.md §2.1/2.2/2.3: P1 P5 P6 P7, K2).

The reference's ODS layer consumes Canal/Maxwell binlog envelopes from
Kafka, filters table/op-type, explodes Canal's ``data`` array, and
produces each row to a per-table topic computed from the table name
(OdsGmallCanal.scala:42-53, OdsGmallCanalMax.scala:41-59).  Here each step
is a declarative column op, so Catalyst pushes the table/type predicate
into the scan and the whole splitter is one narrow codegen'd stage — no
shuffle at any scale.

The dynamic per-record topic (K2) maps to the Kafka sink's ``topic``
column: one streaming query fans out to every table topic instead of the
reference's one-job-per-table pattern.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import CANAL_ENVELOPE


def parse_canal(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1: raw JSON → typed envelope (Canal: data is an ARRAY of rows)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), CANAL_ENVELOPE).alias("env")
    ).select("env.*")


def cdc_table_filter(
    env: DataFrame, allowed: Sequence[tuple[str, Sequence[str]]]
) -> DataFrame:
    """P5: keep only (table, op-type) combinations we ingest.

    Mirrors OdsGmallCanalMax.scala:47-52 — e.g. (order_info, insert),
    (user_info, insert|update|bootstrap-insert).  Plain boolean Column
    expression: Catalyst pushes it to the source scan.
    """
    pred = None
    for table, types in allowed:
        clause = (F.col("table") == table) & F.col("type").isin(list(types))
        pred = clause if pred is None else (pred | clause)
    return env.filter(pred)


def explode_canal_rows(env: DataFrame) -> DataFrame:
    """P7: Canal ``data: [...]`` → one output row per element
    (OdsGmallCanal.scala:44-50)."""
    return env.select(
        "table", "type", F.explode("data").alias("row")
    )


def route_topic(table: Column, prefix: str = "ODS_MM_") -> Column:
    """K2: per-record target topic ``prefix + upper(table)``
    (OdsGmallCanal.scala:46).  Attach as a ``topic`` column — the Kafka
    sink routes on it natively, replacing per-topic jobs."""
    return F.concat(F.lit(prefix), F.upper(table))


def ods_split(raw: DataFrame, allowed: Sequence[tuple[str, Sequence[str]]]) -> DataFrame:
    """The full splitter: parse → filter → explode → route (§3.2).

    Returns (topic, table, type, row) — in streaming, feed straight to the
    Kafka sink with ``to_json(struct(row.*)) AS value``.
    """
    env = parse_canal(raw)
    kept = cdc_table_filter(env, allowed)
    rows = explode_canal_rows(kept)
    return rows.select(
        route_topic(F.col("table")).alias("topic"), "table", "type", "row"
    )
