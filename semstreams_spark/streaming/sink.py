"""Exactly-once idempotent foreachBatch sink with per-partition lineage.

The reference provides at-most-once NATS delivery with content-hash dedup
(SURVEY W5); the north-rule requires exactly-once output across failures
and restarts. Without an Iceberg runtime in this image (no jars), the sink
emulates a transactional append with one protocol, rename + ledger. Per
micro-batch it writes ``_staging/batch=<id>``, renames it to
``batch=<id>`` (no directory for an empty batch), then commits
``_ledger/<id>.json`` by atomic replace: row count, per-partition lineage
(input partition → rows, min/max event time from parquet footer stats),
wall time and the id of the query that wrote it (``<checkpoint>/metadata``).
Readers see only the batches the ledger holds.

Spark replays a failed batch id with identical data, and every crash
window ends in the same table:

- after the staging write or the rename, the ledger lacks the batch: the
  replay replaces the leftover and writes the batch again;
- after the ledger write (before the index update, between a segment and
  its pointer, or after the sink returns but before Spark's commit log),
  the ledger holds the batch: the replay publishes nothing and drains the
  batch with a ``noop`` write. That job runs the stateful operator
  upstream, whose state must commit for the batch id; without it Spark's
  state-store commit validation fails the restart.

``tests/test_streaming.py::test_crash_point_exactly_once`` crashes at each
point. An output directory belongs to one query: a ledger written by
another query fails the first batch, since its batch ids would read as
already committed.

The ledger's footer-stat max event times double as pruning metadata
(``batch_dirs_since``): the streaming rule stage bounds its cooldown seed
reads with them. Those reads are BOUNDED: every ``compact_every`` commits
the sink writes one immutable segment ``_ledger/_checkpoint.seg.<k>.json``
with the compact entries (batch_id, rows, max event ts) since the last
flush, then the pointer ``_ledger/_checkpoint.json`` (the Delta
``_last_checkpoint`` shape; a segment without its pointer is rewritten
whole by the next flush). The live sink keeps the compact index in
memory, so per-trigger pruning costs O(1) file opens in steady state and
O(compact_every) after a restart. Full per-partition lineage stays in the
per-batch ledger JSONs for audit (``ledger()``). Reference anchor: the KV
bucket is a point-lookup store
(``processor/graph/datamanager/manager.go:693-743``), never a scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame


class ExactlyOnceParquetSink:
    def __init__(self, table_dir: str, checkpoint_dir: str | None = None, compact_every: int = 16):
        self.table_dir = table_dir
        # the streaming query's checkpoint: its metadata names the query
        # that owns this output directory (None: not checked)
        self.checkpoint_dir = checkpoint_dir
        self.compact_every = max(1, compact_every)
        self.ledger_dir = os.path.join(table_dir, "_ledger")
        self.staging_dir = os.path.join(table_dir, "_staging")
        os.makedirs(self.ledger_dir, exist_ok=True)
        # compact in-memory ledger index: batch_id -> {batch_id, rows,
        # max_ts}; backed by _checkpoint.json + per-batch suffix. None
        # until first read/commit. ledger_file_reads counts metadata file
        # opens so tests can assert per-trigger reads are bounded.
        self._centries: dict[int, dict] | None = None
        self._ckpt_upto = -1
        self._n_since_ckpt = 0
        self._n_segments = 0
        self._query_id: str | None = None
        self.ledger_file_reads = 0

    # -- ledger -------------------------------------------------------------
    def _ledger_path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"{batch_id}.json")

    def _ckpt_path(self) -> str:
        return os.path.join(self.ledger_dir, "_checkpoint.json")

    def _ckpt_seg_path(self, i: int) -> str:
        return os.path.join(self.ledger_dir, f"_checkpoint.seg.{i}.json")

    @staticmethod
    def _write_json(path: str, obj) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._ledger_path(batch_id))

    def ledger(self) -> list[dict]:
        """FULL per-batch entries (per-partition lineage, wall times) —
        the audit path. O(#batches) file reads by design; the per-trigger
        hot path uses the compact index (``_compact_entries``) instead."""
        out = []
        for f in sorted(os.listdir(self.ledger_dir)):
            if f.endswith(".json") and not f.startswith("_"):
                self.ledger_file_reads += 1
                with open(os.path.join(self.ledger_dir, f)) as fh:
                    out.append(json.load(fh))
        out.sort(key=lambda e: e["batch_id"])
        return out

    @staticmethod
    def _compact_entry(entry: dict) -> dict:
        """Reduce a full ledger entry to what pruning/reading needs:
        (batch_id, rows, max event ts). max_ts is None — meaning "always
        include conservatively" — unless every NON-EMPTY partition carries
        a parseable max_ts: any partition holding rows but no usable stat
        could be the true max, so it forces conservative inclusion (not
        just the all-missing case). Empty part files (rows == 0 — routine
        with wide parallelism on small batches) hold no events and never
        force inclusion."""
        import datetime as _dt

        mx: _dt.datetime | None = None
        unknown = False
        for p in entry.get("partitions", []):
            if p.get("rows", 1) == 0:
                continue
            raw = p.get("max_ts")
            v = None
            if raw not in (None, "None"):
                try:
                    v = _dt.datetime.fromisoformat(raw)
                except ValueError:
                    v = None
            if v is None:
                unknown = True
            else:
                mx = v if mx is None else max(mx, v)
        return {
            "batch_id": entry["batch_id"],
            "rows": entry.get("rows", 0),
            "max_ts": None if (unknown or mx is None) else mx.isoformat(),
        }

    def _compact_entries(self) -> dict[int, dict]:
        """The compact ledger index, loaded once per sink object: the
        O(1) checkpoint pointer + its immutable suffix segments (restart
        cost: one file per compact_every committed batches) + the
        per-batch suffix (< compact_every files in steady state), then
        maintained in memory by the committer."""
        if self._centries is not None:
            return self._centries
        entries: dict[int, dict] = {}
        upto = -1
        n_segments = 0
        if os.path.exists(self._ckpt_path()):
            self.ledger_file_reads += 1
            with open(self._ckpt_path()) as fh:
                ck = json.load(fh)
            upto, n_segments = ck["upto"], ck["n_segments"]
            for i in range(n_segments):
                self.ledger_file_reads += 1
                with open(self._ckpt_seg_path(i)) as fh:
                    for e in json.load(fh):
                        entries[e["batch_id"]] = e
        n_suffix = 0
        for f in os.listdir(self.ledger_dir):
            if not f.endswith(".json") or f.startswith("_"):
                continue
            bid = int(f[: -len(".json")])
            if bid <= upto:
                continue
            self.ledger_file_reads += 1
            with open(os.path.join(self.ledger_dir, f)) as fh:
                entries[bid] = self._compact_entry(json.load(fh))
            n_suffix += 1
        self._centries = entries
        self._ckpt_upto = upto
        self._n_since_ckpt = n_suffix
        self._n_segments = n_segments
        return entries

    def _record_commit(self, entry: dict) -> None:
        """Maintain the compact index after a commit; checkpoint every
        compact_every commits. The checkpoint is SEGMENTED: each flush
        writes ONE immutable ``_checkpoint.seg.<k>.json`` holding only the
        entries committed since the previous flush, then an O(1) pointer
        ``{"upto", "n_segments"}``, so bytes written per commit window are
        independent of total stream age. A crash between segment and
        pointer just rewrites the same segment."""
        entries = self._compact_entries()
        entries[entry["batch_id"]] = self._compact_entry(entry)
        self._n_since_ckpt += 1
        if self._n_since_ckpt >= self.compact_every:
            seg = sorted(
                (e for e in entries.values() if e["batch_id"] > self._ckpt_upto),
                key=lambda e: e["batch_id"],
            )
            self._write_json(self._ckpt_seg_path(self._n_segments), seg)
            self._n_segments += 1
            upto = max(entries)
            self._write_json(self._ckpt_path(), {"upto": upto, "n_segments": self._n_segments})
            self._ckpt_upto = upto
            self._n_since_ckpt = 0

    def _owner_query_id(self) -> str | None:
        """The id of the query this sink commits for, read once from the
        checkpoint's ``metadata`` (Spark writes it before batch 0). Fails
        if the ledger's latest entry names another query: its batch ids
        would read as already committed and be skipped. An entry that
        names no query (written without a checkpoint) is not checked."""
        if self._query_id is None and self.checkpoint_dir is not None:
            with open(os.path.join(self.checkpoint_dir, "metadata")) as fh:
                query_id = json.loads(fh.readline())["id"]
            entries = self._compact_entries()
            if entries:
                self.ledger_file_reads += 1
                with open(self._ledger_path(max(entries))) as fh:
                    found = json.load(fh).get("query_id")
                if found not in (None, query_id):
                    raise RuntimeError(
                        f"output directory {self.table_dir} holds batches of query "
                        f"{found}, not of query {query_id} (checkpoint "
                        f"{self.checkpoint_dir}); restart from the checkpoint of "
                        "the query that wrote it, or from a fresh checkpoint and "
                        "a fresh output directory"
                    )
            self._query_id = query_id
        return self._query_id

    # -- the foreachBatch callable -------------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        query_id = self._owner_query_id()
        if self.committed(batch_id):
            # replay of a committed batch (crash after the ledger write,
            # before Spark's commit log): publish nothing, but run the
            # batch so the stateful operator upstream commits its state
            batch_df.write.format("noop").mode("overwrite").save()
            return
        t0 = time.monotonic()
        # write (overwrite replaces a crashed attempt's leftover); the
        # per-partition lineage comes from the parquet footers — one file
        # per task partition, rows + min/max ts with no second Spark job
        staged = os.path.join(self.staging_dir, f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(staged)
        partitions = self._footer_lineage(staged)
        n_rows = sum(p["rows"] for p in partitions)
        # publish: rename into the table
        final = self._batch_dir(batch_id)
        if os.path.exists(final):
            shutil.rmtree(final)  # crashed between rename and ledger write
        if n_rows > 0:
            os.replace(staged, final)
        else:
            shutil.rmtree(staged, ignore_errors=True)
        # commit
        entry = {
            "batch_id": batch_id,
            "rows": n_rows,
            "partitions": partitions,
            "query_id": query_id,
            "wall_seconds": round(time.monotonic() - t0, 3),
        }
        self._write_json(self._ledger_path(batch_id), entry)
        self._record_commit(entry)

    @staticmethod
    def _footer_lineage(directory: str) -> list[dict]:
        import pyarrow.parquet as pq

        out = []
        for name in sorted(os.listdir(directory)):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(directory, name)).metadata
            ts_min = ts_max = None
            try:
                ts_idx = md.schema.names.index("ts")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ts_idx).statistics
                    if st is not None and st.has_min_max:
                        ts_min = st.min if ts_min is None else min(ts_min, st.min)
                        ts_max = st.max if ts_max is None else max(ts_max, st.max)
            except ValueError:
                pass
            # task partition id is embedded in the part file name
            out.append(
                {
                    "file": name,
                    "partition_id": int(name.split("-")[1]) if "-" in name else -1,
                    "rows": md.num_rows,
                    "min_ts": str(ts_min),
                    "max_ts": str(ts_max),
                }
            )
        return out

    # -- reader -------------------------------------------------------------
    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.table_dir, f"batch={batch_id}")

    def read(self, spark) -> DataFrame:
        """Committed rows only (ledger-gated: a batch directory the
        ledger does not hold is never read). Uses the compact ledger
        index: no per-batch ledger JSON opens in steady state."""
        paths = [self._batch_dir(bid) for bid in sorted(self._compact_entries())]
        paths = [d for d in paths if os.path.isdir(d)]
        if not paths:
            raise FileNotFoundError(f"no committed batches in {self.table_dir}")
        return spark.read.parquet(*paths)

    def batch_dirs_since(self, cutoff) -> list[str]:
        """Committed batch data paths whose max event time (per-partition
        ledger lineage, derived from parquet footer stats at commit time)
        is ≥ `cutoff` (a datetime). Batches with ANY partition lacking a
        parseable max_ts are included conservatively — an unparseable stat
        could hold the true max. This is the ledger-metadata analogue of
        partition pruning, served from the compact in-memory index
        (checkpoint + suffix), so per-trigger cost is O(1) file opens in
        steady state — independent of total stream age, never O(rows) or
        O(#batches)."""
        import datetime as _dt

        keep: list[str] = []
        for bid, entry in sorted(self._compact_entries().items()):
            raw = entry.get("max_ts")
            mx = _dt.datetime.fromisoformat(raw) if raw else None
            if (mx is None or mx >= cutoff) and os.path.isdir(self._batch_dir(bid)):
                keep.append(self._batch_dir(bid))
        return keep
