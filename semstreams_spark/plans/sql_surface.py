"""SQL-facing query surface: the engine's graph tables as temp views so
every SURVEY §2.11 query runs via ``spark.sql(...)`` alone — no Python
imports needed by the client.

The reference exposes its query surface as a NATS request/reply API
(``processor/graph/queries.go:99-396``); a registered SQL catalog is the
Spark-native equivalent — usable from any JDBC/Thrift/SQL client, and
every query stays a Catalyst plan with pushdown/pruning intact (the
views are plain DataFrames, not materialized copies).

Views registered (optionally prefixed):
  triples        — (subject, predicate, object, object_type, source,
                    ts, confidence, context, seq) extraction output
  entity_states  — flat LWW state (one row per live (subject, predicate))
  nodes          — (id, type, status, version, updated_at)
  edges          — (src, dst, edge_type, weight, created_at, updated_at,
                    n_obs [, expires_at])
  transcripts    — the raw input table

Helper SQL (predicate_to_edge_type, entity type extraction) registers as
Spark SQL functions so queries can reuse the same derivations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..extract.triples import MENTIONS, extract_triples
from ..operators.merge import edges_table, entity_states, nodes_table


def register_graph_views(
    spark: SparkSession,
    transcripts: DataFrame,
    prefix: str = "",
    cache_triples: bool = False,
    analytics: bool = False,
) -> dict[str, DataFrame]:
    """Register the derived graph tables as temp views; returns them.

    ``cache_triples`` persists the extraction output before fan-out —
    worth it when several SQL queries run against one registration (the
    three derived views all consume it); leave False for one-shot use.
    On a lakehouse deployment these would be real tables maintained by
    the streaming job (streaming/publish.py) and this function would
    just bind names.

    ``analytics`` additionally registers the CEP/window family (round-5
    worklist #8) so it is SQL-reachable like §2.11: ``rule_events``
    (DEFAULT_RULES over entity_states — canonical SQL is COMPILED from
    the same Rule objects via rules/sql_compile), ``sessions``
    (gap-based), ``degree_5min`` (tumbling mention out-degree), and
    ``communities`` (LPA membership — iterative, so it registers as a
    view with a canonical top-N SQL over it rather than a standalone
    statement).
    """
    triples = extract_triples(transcripts)
    if cache_triples:
        triples = triples.cache()
    views = {
        "transcripts": transcripts,
        "triples": triples,
        "entity_states": entity_states(triples),
        "nodes": nodes_table(triples),
        "edges": edges_table(triples),
    }
    if analytics:
        from pyspark.sql import functions as F

        from ..graph.lpa import lpa_communities
        from ..operators.sessions import sessionize
        from ..operators.windows import node_degree_tumbling
        from ..rules.engine import DEFAULT_RULES, evaluate_rules

        mentions = triples.filter(F.col("predicate") == MENTIONS).select(
            F.col("object").alias("src"), F.col("subject").alias("dst"), "ts"
        )
        views.update(
            {
                "rule_events": evaluate_rules(views["entity_states"], DEFAULT_RULES),
                "sessions": sessionize(transcripts, gap_minutes=30),
                "degree_5min": node_degree_tumbling(mentions, "5 minutes"),
                "communities": lpa_communities(views["edges"]),
            }
        )
    for name, df in views.items():
        df.createOrReplaceTempView(prefix + name)
    _register_sql_functions(spark)
    return views


def _register_sql_functions(spark: SparkSession) -> None:
    """SQL-reachable forms of the engine's derivations — SQL-defined
    functions (Spark 4 ``CREATE FUNCTION ... RETURN expr``), so they stay
    whole-stage-codegen expressions, never Python UDFs."""
    # predicate -> edge_type: 'a.b.c' -> 'c_b' (operators.merge contract,
    # reference messagemanager/processor.go:501-515)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION predicate_to_edge_type(p STRING)
        RETURNS STRING
        RETURN CASE WHEN size(split(p, '\\\\.')) >= 2
          THEN concat_ws('_', element_at(split(p, '\\\\.'), -1),
                              element_at(split(p, '\\\\.'), -2))
          ELSE p END
        """
    )
    # entity type = 5th dot-part of the 6-part id (processor.go:517-526);
    # ids with fewer parts fall back to 'entity' exactly like the
    # reference's default branch — try_element_at instead of element_at
    # because ANSI mode (Spark 4 default) makes an out-of-range
    # element_at fail the whole query
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION entity_type_of(id STRING)
        RETURNS STRING
        RETURN coalesce(try_element_at(split(id, '\\\\.'), 5), 'entity')
        """
    )


# SQL text for the §2.11 queries — importable by clients that want the
# canonical statements, and exercised verbatim by tests/test_sql_surface.
SQL_QUERIES = {
    # GetEntity (datamanager/manager.go:805-849)
    "get_entity": "SELECT * FROM nodes WHERE id = '{entity_id}'",
    # QueryByPredicate (indexmanager/manager.go:1133-1221)
    "query_by_predicate": (
        "SELECT DISTINCT subject FROM triples WHERE predicate = '{predicate}'"
    ),
    # QueryTemporal (indexmanager/manager.go:1284-1353)
    "query_temporal": (
        "SELECT * FROM triples WHERE ts >= TIMESTAMP '{start}' AND ts < TIMESTAMP '{end}'"
    ),
    # Relationships in/out/both (querymanager/query.go:112-170,348-423)
    "relationships_in": "SELECT * FROM edges WHERE dst = '{entity_id}'",
    "relationships_both": (
        "SELECT DISTINCT src, dst, edge_type FROM edges "
        "WHERE src = '{entity_id}' OR dst = '{entity_id}'"
    ),
    # GraphSnapshot (queries.go:99-396): nodes + edges in a time range,
    # deterministic truncation
    "graph_snapshot_nodes": (
        "SELECT id, type, version, updated_at FROM nodes "
        "WHERE updated_at >= TIMESTAMP '{start}' AND updated_at < TIMESTAMP '{end}' "
        "ORDER BY id LIMIT {max_nodes}"
    ),
    # J5 reverse-edge top-N
    "incoming_top": (
        "SELECT dst, SUM(n_obs) AS n_incoming FROM edges GROUP BY dst "
        "ORDER BY n_incoming DESC, dst ASC LIMIT {k}"
    ),
    # --- analytics family (round-5 worklist #8) --------------------------
    # W3 gap-based sessions — mirrors operators.sessions.sessionize
    # exactly (microsecond gap test, (ts, turn_idx) ordering)
    "sessions": (
        "WITH flagged AS ("
        "  SELECT conv_id, ts, turn_idx,"
        "    CASE WHEN timestampdiff(MICROSECOND, lag(ts) OVER w, ts) > {gap_us}"
        "         THEN 1 ELSE 0 END AS new_session"
        "  FROM transcripts"
        "  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)"
        "), numbered AS ("
        "  SELECT conv_id, ts,"
        "    SUM(new_session) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx"
        "                           ROWS UNBOUNDED PRECEDING) AS session_id"
        "  FROM flagged"
        ") SELECT conv_id, session_id, MIN(ts) AS session_start,"
        "         MAX(ts) AS session_end, COUNT(1) AS n_turns"
        "  FROM numbered GROUP BY conv_id, session_id"
    ),
    # A6 tumbling mention out-degree — mirrors windows.node_degree_tumbling
    "degree_tumbling": (
        "SELECT window.start AS window_start, src, COUNT(1) AS out_degree,"
        "       COUNT(DISTINCT dst) AS distinct_dst"
        " FROM (SELECT object AS src, subject AS dst, ts FROM triples"
        "       WHERE predicate = 'conv.turn.mentions')"
        " GROUP BY window(ts, '{width}'), src"
    ),
    # T2 community top-N over the registered LPA membership view
    # (LPA itself is iterative — a view, not a single statement)
    "community_top": (
        "SELECT community, COUNT(1) AS n_members FROM communities "
        "GROUP BY community ORDER BY n_members DESC, community ASC LIMIT {k}"
    ),
}


def rule_events_sql() -> str:
    """Canonical SQL for the registered DEFAULT_RULES over the
    entity_states view — COMPILED from the same Rule objects the
    DataFrame engine evaluates (rules/sql_compile), so the SQL surface
    and the engine cannot drift."""
    from ..rules.engine import DEFAULT_RULES
    from ..rules.sql_compile import rules_sql

    return rules_sql(DEFAULT_RULES, table="entity_states", dialect="spark")


def sql(spark: SparkSession, name: str, **params) -> DataFrame:
    """Run a canonical §2.11 query by name with parameters substituted."""
    return spark.sql(SQL_QUERIES[name].format(**params))
