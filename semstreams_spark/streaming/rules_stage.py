"""Streaming rule stage (R5 end-to-end): rules + cooldown evaluated
inside the micro-batch loop over the live ``conversation_graph_deltas``
output, committed exactly-once.

Reference path: the rule processor watches entity state changes
(``processor/rule/entity_watcher.go:60-109``) and evaluates every rule
per change message (``rule/message_handler.go:47-111``), with per-
(rule, entity) cooldown (``rule_factory.go:24``).

Spark shape:
- the ingest ``foreachBatch`` (``build_ingest_stream`` with ``rules``)
  fans out each committed delta micro-batch to a second stage:
  ``evaluate_rules`` over the batch's state-change rows →
  ``apply_cooldown`` → a second ``ExactlyOnceParquetSink`` (rule_events
  table).
- the cooldown's only cross-batch state — last fire per
  (rule_id, entity_id) — is DERIVED from the committed rule-events table
  itself rather than held in a separate store, so a crash can never
  desync state from output: a replayed batch that the ledger holds is
  drained with a ``noop`` write and publishes nothing, and the last-fire
  seed is rebuilt from exactly the committed prefix.
- the seed read is BOUNDED: a last fire older than max(cooldown) before
  the batch's min event time can never mute anything in the batch (every
  batch event is ≥ min event time, so its gap to such a fire already
  exceeds every rule's cooldown), so only committed batches whose ledger
  max event time reaches past that cutoff are read — ledger footer-stat
  pruning (sink.batch_dirs_since), no data files touched for the rest.
  Per-batch work is therefore O(events within the cooldown horizon),
  independent of total stream history — the scale analogue of the
  reference's O(1) per-rule lastFired check (rule_factory.go:24).
- ordering semantics: incremental greedy == the global batch scan when
  batches arrive in event-time order per key — the property a
  log-ordered source (Kafka, ordered files) provides. A LATE but
  in-watermark row finalized in a later batch with an earlier ts follows
  the reference's ARRIVAL-ORDER mute semantics instead: the reference
  checks wall-clock elapsed-since-lastFired at arrival
  (``rule_factory.go:24``), so an event arriving just after a fire is
  muted regardless of its event time — and the greedy scan here does the
  same (ts < seeded last_fire ⇒ gap < cooldown ⇒ muted). Pinned by
  tests/test_streaming.py::test_streaming_rule_late_event_arrival_order.

The stage evaluates rules over TWO views of each batch (matching the
watcher, which sees entity-level changes, not raw turn rows):
- turn view: the (subject, predicate, object, ts) delta rows as-is;
- entity view: mention triples re-keyed to the mentioned entity
  (subject = entity id, predicate = ``entity.mentioned``) so per-entity
  rules and cooldowns engage across turns and conversations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.triples import MENTIONS
from ..rules.engine import Rule, apply_cooldown, evaluate_rules
from .sink import ExactlyOnceParquetSink

ENTITY_MENTIONED = "entity.mentioned"


def rule_states_view(deltas: DataFrame) -> DataFrame:
    """State-change rows a rule can match: turn-level triples as-is,
    plus mention triples re-keyed to the mentioned entity (the watcher's
    entity-level view)."""
    t = deltas.filter(F.col("kind") == "triple")
    turn_view = t.select("subject", "predicate", "object", "ts")
    entity_view = t.filter(F.col("predicate") == MENTIONS).select(
        F.col("object").alias("subject"),
        F.lit(ENTITY_MENTIONED).alias("predicate"),
        F.col("subject").alias("object"),
        "ts",
    )
    return turn_view.unionByName(entity_view)


class StreamingRuleStage:
    """foreachBatch stage: delta micro-batch → rule events, exactly-once.

    ``pipeline.build_ingest_stream(..., rules=...)`` calls it after the
    delta sink in one foreachBatch; it also runs standalone over any
    committed delta stream."""

    def __init__(self, out_dir: str, rules: list[Rule], checkpoint_dir: str | None = None):
        self.rules = rules
        self.sink = ExactlyOnceParquetSink(os.path.join(out_dir, "rule_events"), checkpoint_dir)
        self.max_cooldown = max((r.cooldown_seconds for r in rules), default=0)
        # the rule-event table's schema, kept from the first seed read:
        # later reads skip Spark's schema-inference job
        self._seed_schema = None

    def seed_batch_dirs(self, min_event_ts) -> list[str]:
        """Committed rule-event batch dirs the cooldown seed must read for
        a micro-batch whose earliest event is `min_event_ts`: only those
        whose ledger max event time is within max(cooldown) of it — an
        older last fire cannot mute any batch event. Exposed so tests can
        assert the read is bounded (independent of total batch count)."""
        import datetime as _dt

        cutoff = min_event_ts - _dt.timedelta(seconds=self.max_cooldown)
        return self.sink.batch_dirs_since(cutoff)

    def last_fires(self, spark: SparkSession, min_event_ts) -> DataFrame | None:
        """Last fired ts per (rule_id, entity_id) over the committed
        prefix — the cooldown seed for an incoming batch whose earliest
        event time is `min_event_ts`. The read is bounded to the cooldown
        horizon via ledger footer-stat pruning; rows older than the
        cutoff are filtered out too, so the seed aggregation itself is
        O(recent events), not O(history)."""
        import datetime as _dt

        dirs = self.seed_batch_dirs(min_event_ts)
        if not dirs:
            return None
        cutoff = min_event_ts - _dt.timedelta(seconds=self.max_cooldown)
        # parquet ts reads as TIMESTAMP_NTZ; align the literal's type
        if self._seed_schema is None:
            self._seed_schema = spark.read.parquet(*dirs).schema
        committed = spark.read.schema(self._seed_schema).parquet(*dirs).filter(
            F.col("ts") >= F.lit(cutoff).cast("timestamp_ntz")
        )
        return committed.groupBy("rule_id", "entity_id").agg(
            F.max("ts").alias("last_fire")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.sink.committed(batch_id):
            # replay: the sink drains the batch and publishes nothing
            return self.sink(batch_df, batch_id)
        spark = batch_df.sparkSession
        # one scalar agg over the (persisted) batch to anchor the seed
        # cutoff; skipped entirely when no rule has a cooldown
        min_ts = None
        if self.max_cooldown > 0:
            min_ts = batch_df.agg(F.min("ts")).first()[0]
        events = evaluate_rules(rule_states_view(batch_df), self.rules)
        # empty batch (min_ts None): nothing can fire, no seed needed
        seed = self.last_fires(spark, min_ts) if min_ts is not None else None
        fired = apply_cooldown(events, self.rules, last_fire=seed)
        self.sink(fired, batch_id)
