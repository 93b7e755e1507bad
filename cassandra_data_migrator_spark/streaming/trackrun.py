"""Resumable tracked batch runs (reference TrackRun / PREV_RUN_ID).

The reference records one ``cdm_run_details`` row per token range with a
status (NOT_STARTED → STARTED → PASS/FAIL/DIFF) and, given
``spark.cdm.trackRun.previousRunId``, re-processes only the ranges that
did not reach PASS (``feature/TrackRun.java:59-71``,
``cql/statement/TargetUpsertRunDetailsStatement.java:63-84,132-163``,
``properties/KnownProperties.java:148``).

Spark-native restatement: a batch replay is partitioned into BUCKET
GROUPS (group = bucket % n_groups). Each group merges as its own
fenced unit — ``stream_id = "run:<run_id>:g<group>"``, epoch 0 — and
appends a PASS row to the ``_run/run_details`` side table after its
atomic manifest commit. A killed run therefore leaves:

- committed groups:  fenced (re-merge is a no-op) + PASS row
- in-flight group:   no manifest, no PASS row — nothing to undo
- pending groups:    untouched

``resume`` re-merges exactly the groups without a PASS row; the
per-group fence makes crash-after-commit-before-record safe, and LWW
idempotence makes even overlapping re-applies harmless. The
``rerun_multiplier`` (reference P4, ``SplitPartitions`` re-split on
retry) splits each pending group into ``m`` finer sub-batches so a
retry of a too-big group proceeds in smaller atomic steps.

Scale: one group = one bounded merge (reads/rewrites only its buckets);
the driver holds only group ids and PASS rows. Counter tables are NOT
supported here (counter increments are not idempotent — same caveat as
the reference, ``schema/CqlTable.java:202-209``).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.lake.table import LakeTable, MergeResult
from cassandra_data_migrator_spark.streaming import runstate


class BatchRunTracker:
    """Partition a batch replay into resumable, individually-fenced
    bucket-group merges with per-group run-details rows."""

    def __init__(self, spark: SparkSession, table: LakeTable,
                 n_groups: int = 8):
        self.spark = spark
        self.table = table
        self.n_groups = n_groups
        self.details_path = runstate.path(table, "run_details")

    # ------------------------------------------------------------- state

    def run_details(self) -> DataFrame:
        return runstate.read(self.spark, self.table, "run_details")

    def passed_groups(self, run_id: str) -> set[int]:
        """A group is PASS when its whole-group merge committed, or when
        every sub of one rerun-multiplier split committed."""
        if not self.table.fs.isdir(self.details_path):
            return set()
        rows = (
            self.run_details()
            # PASS or PASS_UNKNOWN_TOTALS — both mean "committed"
            .filter((F.col("run_id") == run_id)
                    & F.col("status").startswith("PASS"))
            .select("grp", "sub", "n_subs").collect())
        subs_seen: dict[tuple[int, int], set[int]] = {}
        for r in rows:
            subs_seen.setdefault((r["grp"], r["n_subs"]), set()).add(r["sub"])
        return {g for (g, n), subs in subs_seen.items() if len(subs) == n}

    def pending_groups(self, run_id: str) -> list[int]:
        return sorted(set(range(self.n_groups)) - self.passed_groups(run_id))

    # --------------------------------------------------------------- run

    def _group_col(self, src: DataFrame) -> Column:
        return F.pmod(self.table.bucket_of(self.table.key_col),
                      F.lit(self.n_groups))

    def _merge_group(
        self, events: DataFrame, run_id: str, grp: int,
        sub: int = 0, n_subs: int = 1, **merge_kw,
    ) -> MergeResult:
        gcol = self._group_col(events)
        part = events.filter(gcol == grp)
        if n_subs > 1:
            # finer re-split of one group on retry (reference P4
            # rerun-multiplier): sub-select by a second-level hash
            sub_col = F.pmod(
                F.xxhash64(F.col(self.table.key_col), F.lit("rerun")),
                F.lit(n_subs))
            part = part.filter(sub_col == sub)
        stream = f"run:{run_id}:g{grp}" if n_subs == 1 \
            else f"run:{run_id}:g{grp}.{sub}/{n_subs}"
        result = self.table.merge_batch(
            part, stream_id=stream, epoch_id=0, **merge_kw)
        file_key = f"{run_id}-g{grp}-{sub}-{n_subs}"
        if result.skipped:
            # The fence proves this exact (stream, epoch) already
            # committed. Two subcases:
            # - the PASS row already exists (an at-least-once scheduler
            #   re-ran a fully recorded group): LEAVE IT — rewriting
            #   from this skip's empty counters would clobber the true
            #   totals with zeros.
            # - no PASS row (a prior run crashed after the manifest
            #   commit but before the record landed): recover the true
            #   totals from the committed manifest's lineage (matched
            #   by epoch_key) and append the row now, so resume
            #   converges with CORRECT totals instead of re-attempting
            #   a fenced no-op forever.
            pass_file = os.path.join(self.details_path,
                                     f"part-{file_key}.parquet")
            if self.table.fs.exists(pass_file):
                return result
            recovered = self._recover_commit(f"{stream}/0")
            if recovered is None:
                # fence without a surviving manifest: expire_versions
                # (vacuum) removed the manifest this fence came from,
                # so the TRUE totals are gone. Record the completion
                # with an explicit sentinel instead of silently
                # under-reporting zeros as a normal PASS.
                print(f"WARN: run {run_id} group {grp}: commit fence "
                      "found but its manifest was expired (maintain/"
                      "expire_versions ran since); recording "
                      "PASS_UNKNOWN_TOTALS with events=0",
                      file=sys.stderr)
                status, events_n, buckets_n, version = \
                    "PASS_UNKNOWN_TOTALS", 0, 0, None
            else:
                status = "PASS"
                events_n, buckets_n, version = recovered
        else:
            status = "PASS"
            events_n = int(result.counters.get("events", 0))
            buckets_n = len(result.touched_buckets)
            version = result.version
        # deterministic file_key keeps the append idempotent
        runstate.append(
            self.table, "run_details",
            [{"run_id": run_id, "grp": grp, "sub": sub,
              "n_subs": n_subs, "status": status,
              "events": events_n, "buckets": buckets_n,
              "version": version}], file_key)
        return result

    def _recover_commit(self, epoch_key: str
                        ) -> tuple[int, int, int | None] | None:
        """True (events, buckets, version) of an already-committed group
        merge, from the manifest whose ``epoch_key`` matches — newest
        first, bounded driver-side JSON reads (the fenced-skip recovery
        path only). Returns ``None`` when no surviving manifest matches:
        the fence outlives its manifest once ``expire_versions`` has
        vacuumed old snapshots, and the caller must then record the
        completion as totals-unknown rather than zeros."""
        for v in sorted(self.table.history(), reverse=True):
            m = self.table.manifest_at(v)
            if m.get("epoch_key") == epoch_key:
                lineage = m.get("lineage") or []
                return (int(sum(l.get("events") or 0 for l in lineage)),
                        len(lineage), m.get("version"))
        return None

    def run(self, events: DataFrame, run_id: str,
            groups: list[int] | None = None, **merge_kw) -> list[MergeResult]:
        """Replay ``events`` group by group. ``groups`` (tests/partial
        runs) restricts which groups execute this call."""
        todo = sorted(groups) if groups is not None else list(range(self.n_groups))
        return [self._merge_group(events, run_id, g, **merge_kw)
                for g in todo]

    def resume(self, events: DataFrame, run_id: str,
               rerun_multiplier: int = 1, **merge_kw) -> list[MergeResult]:
        """Re-merge only the groups without a PASS row — the reference's
        previousRunId pending-range replay. ``rerun_multiplier > 1``
        splits each pending group into that many finer fenced
        sub-merges."""
        out: list[MergeResult] = []
        for g in self.pending_groups(run_id):
            if rerun_multiplier <= 1:
                out.append(self._merge_group(events, run_id, g, **merge_kw))
            else:
                for sub in range(rerun_multiplier):
                    out.append(self._merge_group(
                        events, run_id, g, sub=sub,
                        n_subs=rerun_multiplier, **merge_kw))
        return out
