"""The pipeline's input source: a table of pre-tokenized sequences
(doc_id string, tokens array<int32>, n_tok int32, source string) —
BASELINE.json input_hint.

Backed by an Iceberg table when the session has an Iceberg catalog
configured, else by a parquet directory with the same layout.  The read path
is identical either way (format string aside); incremental consumption uses
Iceberg snapshot ids when available, else the same (start, end] snapshot
semantics emulated over the append-only chunk-file log (snapshots() below),
with chunk-level lineage via operators/checkpoint.py.

Scale notes: reads prune to (doc_id, tokens, source) — `n_tok` is only
scanned when filters need it (e.g. skip empty docs), which Catalyst pushes
into the parquet scan (check explain: ReadSchema / PushedFilters).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
    ]
)


def _has_iceberg(spark: SparkSession, name: str) -> bool:
    return "." in name and spark.conf.get(
        f"spark.sql.catalog.{name.split('.', 1)[0]}", None
    ) is not None


@dataclass
class TokensTable:
    """Reader facade over the tokens input table."""

    spark: SparkSession
    location: str  # parquet dir, or catalog.db.table for Iceberg

    def read(
        self,
        min_tokens: int | None = None,
        sources: list[str] | None = None,
        fmt: str = "parquet",
    ) -> DataFrame:
        """`fmt` selects the batch file format for dir-backed layouts:
        parquet (default), orc, or json (JSON-lines interchange dumps).
        The explicit schema applies to all three — json would otherwise
        infer doubles for the token ids — but only the columnar formats
        give real pushdown/pruning; json reads the full row, so convert
        interchange drops to parquet before any at-scale run."""
        if _has_iceberg(self.spark, self.location):
            df = self.spark.read.format("iceberg").load(self.location)
        else:
            df = (
                self.spark.read.schema(TOKENS_SCHEMA)
                .format(fmt)
                .load(self.location)
            )
        missing = {f.name for f in TOKENS_SCHEMA} - set(df.columns)
        if missing:
            raise ValueError(f"tokens table missing columns: {sorted(missing)}")
        if min_tokens is not None:
            df = df.where(F.col("n_tok") >= min_tokens)  # pushed to the scan
        if sources:
            df = df.where(F.col("source").isin(sources))
        return df

    def snapshots(self) -> list[tuple[int, str]]:
        """The table's append log as (snapshot_id, chunk_file) pairs,
        ascending.  Dir-backed emulation of Iceberg's snapshot history: an
        append-only chunk-file dir where file NAMES sort in append order
        (the layout every writer in this repo produces — CheckpointedRunner
        chunks, routed sinks) has a well-defined monotonic log, so
        snapshot_id i covers files [1..i].  Ids are therefore stable under
        appends, exactly like Iceberg's: history is never renumbered,
        new files get new ids.  Real Iceberg catalogs keep their own log;
        this method is the parquet-dir seam."""
        if _has_iceberg(self.spark, self.location):
            rows = (
                self.spark.read.format("iceberg")
                .load(f"{self.location}.snapshots")
                .orderBy("committed_at")
                .select("snapshot_id")
                .collect()
            )
            return [(int(r["snapshot_id"]), "") for r in rows]
        import os

        # data files only — a stray sidecar (notes, manifest, writer temp)
        # must not claim a snapshot id and renumber every later chunk's
        # history (silent duplication/loss on resume)
        files = sorted(
            n
            for n in os.listdir(self.location)
            if n.endswith(".parquet")
            and not n.startswith(("_", "."))
            and not os.path.isdir(os.path.join(self.location, n))
        )
        return [(i + 1, n) for i, n in enumerate(files)]

    def current_snapshot_id(self) -> int:
        """Latest snapshot id (0 = empty table) — persist this alongside a
        checkpoint, pass it back as start_snapshot_id to resume."""
        snaps = self.snapshots()
        return snaps[-1][0] if snaps else 0

    def assert_log_extends(self, saved: list[tuple[int, str]]) -> None:
        """Loud resume guard for the dir-backed snapshot emulation: the
        CURRENT listing must be a superset-prefix of the checkpointed log
        (same (id, file) pairs in the same order, possibly with new
        appends after).  The emulation's id assignment is name-sort order
        (snapshots()), which is stable ONLY while the dir stays
        append-only with monotonically-sorting names — a compaction,
        rename, or out-of-sort-order writer would renumber history and a
        resume would silently double-read or drop chunks.  Persist
        ``snapshots()`` next to the checkpoint id and pass it back here
        (or as read_snapshot_range(saved_log=...)): a renumbered log then
        fails HERE, loudly, instead of corrupting the delta.  Native
        Iceberg does not need this (its log is never renumbered); the
        method still validates the id sequence there."""
        cur = self.snapshots()
        want = [(int(i), n) for i, n in saved]
        if cur[: len(want)] != want:
            raise ValueError(
                "tokens table snapshot log no longer extends the "
                f"checkpointed log: checkpoint recorded {want[:5]}... "
                f"({len(want)} snapshots) but the table now lists "
                f"{cur[:5]}... ({len(cur)}).  History was renumbered "
                "(compaction / rename / non-monotonic file name) — a "
                "resume from this checkpoint would double-read or drop "
                "chunks.  Re-bootstrap from snapshot 0 instead."
            )

    def read_snapshot_range(
        self,
        start_snapshot_id: int,
        end_snapshot_id: int | None = None,
        saved_log: list[tuple[int, str]] | None = None,
    ) -> DataFrame:
        """Iceberg incremental read (the Options.StartOffset analogue at
        table granularity, ref log/parser/options.go:4): rows appended in
        (start_snapshot_id, end_snapshot_id], end defaulting to current —
        Iceberg's exclusive-start/inclusive-end contract.

        With a catalog this is the native start-snapshot-id/end-snapshot-id
        incremental scan; dir-backed layouts read exactly the chunk files
        the emulated log (see snapshots()) assigns to that id range, so the
        resume loop — process, persist current_snapshot_id(), crash, read
        (saved, current] — runs identically in both deployments.

        ``saved_log`` (recommended for dir-backed tables): the
        ``snapshots()`` listing persisted with the checkpoint; the read
        first asserts the current log still extends it
        (assert_log_extends), so renumbered history fails loudly instead
        of silently shifting which files the id range selects."""
        if saved_log is not None:
            self.assert_log_extends(saved_log)
        if _has_iceberg(self.spark, self.location):
            r = self.spark.read.format("iceberg")
            if start_snapshot_id == 0:
                # bootstrap: 0 is the "empty table" checkpoint, not a real
                # snapshot id — Iceberg would reject start-snapshot-id=0,
                # so read everything up to `end` (time travel) instead
                if end_snapshot_id is not None:
                    r = r.option("snapshot-id", str(end_snapshot_id))
            else:
                r = r.option("start-snapshot-id", str(start_snapshot_id))
                if end_snapshot_id is not None:
                    r = r.option("end-snapshot-id", str(end_snapshot_id))
            return r.load(self.location)
        import os

        picked = [
            os.path.join(self.location, name)
            for sid, name in self.snapshots()
            if sid > start_snapshot_id
            and (end_snapshot_id is None or sid <= end_snapshot_id)
        ]
        if not picked:
            return self.spark.createDataFrame([], TOKENS_SCHEMA)
        return self.spark.read.schema(TOKENS_SCHEMA).parquet(*picked)
