"""The tombstone contract composed from per-table steps: the reference
``operators.mutations.entity_status`` is checked against
(tests/test_tombstones.py, tests/test_merge.py, tests/test_streaming.py).
``nodes_with_status`` and ``edges_after_deletes`` apply the package's own
rule texts, ``TOMBSTONED`` (through ``_STATUS``) and ``SURVIVES``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semstreams_spark.operators.mutations import _BUMPED, _STATUS, SURVIVES


def latest_deletes(deletes: DataFrame) -> DataFrame:
    """(entity_id, deleted_at, n_deletes): last tombstone per entity."""
    return deletes.groupBy("entity_id").agg(
        F.max("ts").alias("deleted_at"), F.count(F.lit(1)).alias("n_deletes")
    )


def nodes_with_status(nodes: DataFrame, deletes: DataFrame) -> DataFrame:
    """Node table with tombstone status: ``deleted`` when the last
    tombstone is >= the node's last update (delete wins ties), ``active``
    otherwise (including recreated entities); version bumps by the number
    of tombstones (reference CAS version bump per mutation,
    ``datamanager/manager.go:693-743``). Adds ``deleted_at`` (null when
    never tombstoned)."""
    d = latest_deletes(deletes)
    out = nodes.join(F.broadcast(d), nodes["id"] == d["entity_id"], "left")
    return out.selectExpr(
        "id", "type", _STATUS, _BUMPED, "updated_at", "deleted_at"
    )


def edges_after_deletes(edges: DataFrame, deletes: DataFrame) -> DataFrame:
    """Edge cleanup (``mutations.go:354``): drop edges whose src OR dst
    entity is tombstoned at-or-after the edge's last observation; an edge
    observed after the tombstone (recreated entity) survives."""
    d = latest_deletes(deletes).select("entity_id", "deleted_at")
    out = edges
    for side in ("src", "dst"):
        dd = d.select(
            F.col("entity_id").alias(f"_{side}_id"), F.col("deleted_at").alias(f"_{side}_del")
        )
        out = out.join(F.broadcast(dd), out[side] == dd[f"_{side}_id"], "left").filter(
            F.expr(SURVIVES.format(seen_at="updated_at", deleted_at=f"_{side}_del"))
        ).drop(f"_{side}_id", f"_{side}_del")
    return out
