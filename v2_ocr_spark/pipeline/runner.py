"""The resumable extraction job — claim loop over logical partitions.

Mirrors the reference's queue semantics (SURVEY.md §2.9) on Spark:

  * Q1 state machine + Q2 crash recovery: CheckpointStore;
  * Q4 retries: failed partitions return to 'queued' with an attempt
    counter, up to max_attempts (mistral.ts:9-10 maxRetries analog);
  * Q6 chunk fan-out: logical partition = pmod(xxhash64(conv_id), P) —
    conversations never straddle partitions, so per-conv assembly
    stays partition-local; the salt keeps long conversations from
    skewing *file* sizes (rows within a conv spread over input splits
    are still processed by independent tasks — extraction is per-row);
  * Q9 per-unit persistence: each partition's output becomes durable
    (committed) independently; a crash loses at most in-flight
    partitions, and re-running them is idempotent (S5 MERGE key).

Efficiency at scale: the job reads the input ONCE per run (one
listing, shared by the fingerprint scan and the extraction) and stages
all uncommitted partitions in one MergeSink.stage pass — each task
writes only its pids' files — then promotes them per partition. Resume
scans only the pruned subset (pid pushdown via pmod filter at the
scan).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from v2_ocr_spark.operators.extract import extract_turns
from v2_ocr_spark.pipeline.sink import (
    COMPLETED,
    DEFAULT_PARTITIONS,
    ERROR,
    PROCESSING,
    LeaseHeld,
    MergeSink,
    partition_id,
)


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        out_dir: str,
        num_partitions: int = DEFAULT_PARTITIONS,
        max_attempts: int = 3,
        lease_ttl_seconds: float = 600.0,
    ):
        self.spark = spark
        self.input_path = input_path
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.max_attempts = max_attempts
        self.lease_ttl = lease_ttl_seconds
        self.sink = MergeSink(out_dir)
        self.checkpoints = self.sink.checkpoints

    # ---------------------------------------------------------------

    def pending_partitions(self) -> list[int]:
        committed = set(self.sink.committed())
        pending = []
        for pid in range(self.num_partitions):
            if pid in committed:
                continue
            state = self.checkpoints.get(pid)
            if state["status"] == ERROR and state["attempt"] >= self.max_attempts:
                continue  # exhausted retries; stays visible in checkpoints
            pending.append(pid)
        return pending

    def input_fingerprints(
        self, pids: list[int] | None = None
    ) -> dict[int, dict]:
        """Per-partition input fingerprint: (row count, order-independent
        bit_xor of xxhash64(conv_id, turn_idx, ts)). One narrow agg scan
        (3 columns, map-side partial) — detects appended, removed or
        re-keyed turns without reading text. In-place text edits are
        outside the change model (transcript stores are append-only
        event logs); re-run non-incrementally to force full recompute.
        """
        return self._fingerprints(
            self.spark.read.parquet(self.input_path), pids)

    def _fingerprints(self, source: DataFrame,
                      pids: list[int] | None = None) -> dict[int, dict]:
        df = source.withColumn(
            "pid", partition_id("conv_id", self.num_partitions)
        )
        if pids is not None and len(pids) < self.num_partitions:
            df = df.where(F.col("pid").isin(pids))
        rows = (
            df.groupBy("pid")
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(conv_id, turn_idx, ts))").alias("sig"),
            )
            .collect()
        )
        return {
            int(r.pid): {"input_rows": int(r.n), "input_sig": int(r.sig or 0)}
            for r in rows
        }

    def changed_partitions(self, fps: dict[int, dict]) -> list[int]:
        """Committed partitions whose CURRENT input fingerprint differs
        from the one recorded at commit time (missing baseline counts
        as changed — correctness over skipping — EXCEPT for partitions
        born outside batch extraction, see below)."""
        changed = []
        for pid, commit in self.sink.committed().items():
            m = commit.get("metrics", {})
            if "input_rows" not in m and m.get("op"):
                # a maintenance/stream-landed commit ('op' set) with NO
                # batch baseline: this partition's content never came
                # from input_path (e.g. stream_extract_upsert bootstrap
                # — the STREAM was its extraction), so there is nothing
                # to compare the batch fingerprint against, and
                # re-extracting it from input_path would silently WIPE
                # every streamed row. Skipped, never 'changed'.
                # (Maintenance over batch-extracted partitions carries
                # the baseline forward, so it never lands here.)
                continue
            cur = fps.get(pid, {"input_rows": 0, "input_sig": 0})
            if (m.get("input_rows"), m.get("input_sig")) != (
                cur["input_rows"], cur["input_sig"],
            ):
                changed.append(pid)
        return changed

    def _extracted(self, source: DataFrame, pids: list[int]) -> DataFrame:
        df = source.withColumn("pid", self.sink.pid())
        if len(pids) < self.num_partitions:
            df = df.where(F.col("pid").isin(pids))  # resume: pruned rescan
        return extract_turns(
            df.select("conv_id", "turn_idx", "role", "text", "tool"),
            with_metrics=True,
        ).withColumn("pid", self.sink.pid())

    # ---------------------------------------------------------------

    def run(self, incremental: bool = False) -> dict:
        """One claim-loop pass. Returns a summary.

        ``incremental=True`` additionally re-extracts committed
        partitions whose input fingerprint changed since their commit
        (new data arriving in an append-only store) — the Iceberg
        incremental-scan analog: only 1/P of the table recomputes per
        appended conversation, not the whole job."""
        run_id = uuid.uuid4().hex[:12]
        # ONE driver owns a sink at a time: the claim loop's
        # checkpoint get+set is not cross-process atomic, so a second
        # concurrent driver fails its claim cleanly with LeaseHeld
        # instead of double-promoting; a second job with a different
        # partition count fails with ValueError instead of scattering
        # rows (MergeSink.owned)
        with self.sink.owned(self.num_partitions, self.lease_ttl):
            return self._run_owned(run_id, incremental)

    def _run_owned(self, run_id: str, incremental: bool) -> dict:
        self.checkpoints.recover()  # Q2
        pids = self.pending_partitions()
        # ONE read of the input per run: its listing and footer job are
        # shared by the fingerprint scan and the extraction
        source = (self.spark.read.parquet(self.input_path)
                  if pids or incremental else None)
        if incremental:
            fps = self._fingerprints(source)
            # changed COMMITTED partitions respect the same Q4 retry
            # cap as uncommitted ones — without this, a committed
            # partition whose appended input keeps failing to stage is
            # re-selected on every incremental run forever instead of
            # parking at max_attempts (it stays visible in checkpoints)
            changed = [
                p for p in self.changed_partitions(fps)
                if not (
                    (st := self.checkpoints.get(p))["status"] == ERROR
                    and st["attempt"] >= self.max_attempts
                )
            ]
            pids = sorted(set(pids) | set(changed))
        if not pids:
            return {"run_id": run_id, "committed": [], "status": "up-to-date"}
        if not incremental:
            # fingerprint only the partitions being staged (pruned,
            # narrow scan) so future incremental runs have baselines
            fps = self._fingerprints(source, pids)

        for pid in pids:
            st = self.checkpoints.get(pid)
            self.checkpoints.set(
                pid, status=PROCESSING, run_id=run_id,
                attempt=st["attempt"] + 1, started_at=time.time(),
            )

        try:
            staged = self.sink.stage(
                self._extracted(source, pids), run_id,
                F.count("*").alias("turns"),
                F.sum("nodes_seen").alias("nodes"),
                F.sum("n_spans").alias("kept"),
                F.count(F.when(F.col("error").isNotNull(), 1)).alias("errs"),
                F.sum("chars_in").alias("ci"),
                F.sum("chars_out").alias("co"),
                F.sum("proc_us").alias("us"),
            )
        except LeaseHeld:
            raise  # ownership lost: the checkpoints are the new owner's
        except Exception as exc:  # noqa: BLE001
            for pid in pids:
                self.checkpoints.set(
                    pid, status=ERROR, error=f"{type(exc).__name__}: {exc}",
                )
            raise

        metrics = {}
        for pid in pids:
            r = staged.get(pid)
            n = {k: int((r[k] if r else 0) or 0)
                 for k in ("turns", "nodes", "kept", "errs", "ci", "co", "us")}
            metrics[pid] = {
                "turns_seen": n["turns"],
                "nodes_seen": n["nodes"],
                "blocks_kept": n["kept"],
                "blocks_dropped": n["nodes"] - n["kept"],
                "turns_errored": n["errs"],
                "chars_in": n["ci"],
                "chars_out": n["co"],
                "proc_ms": n["us"] // 1000,
                **fps.get(pid, {"input_rows": 0, "input_sig": 0}),
            }
        committed = []
        for pid, commit in self.sink.publish(run_id, metrics):
            # attempt resets on success: the cap bounds a FAILURE
            # STREAK, not lifetime failures — a partition that failed
            # twice years ago then succeeded gets a full retry budget
            # when its input next changes
            self.checkpoints.set(
                pid, status=COMPLETED, completed_at=time.time(),
                snapshot_id=commit["snapshot_id"], attempt=0,
            )
            committed.append(pid)
        return {"run_id": run_id, "committed": committed, "status": "ok"}

    def read_output(self) -> DataFrame:
        return self.sink.read(self.spark)
