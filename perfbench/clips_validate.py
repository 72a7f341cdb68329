"""clips_validate: the paper's north-star job, as runner.py runs it.

A seeded synthetic clip table (WAV/mu-law payloads in one parquet file
per synth partition, plus its manifest) is validated end to end with
the default rule set, and the run is recorded into a fresh lineage
checkpoint. A resumed pass then asks the checkpoint which partitions are
complete, validates the rest (none) and records that run too. Both
passes go through public calls only: validate_clips,
CheckpointStore.record_run and CheckpointStore.completed_partitions.

It exercises the rule compiler, the audio Arrow kernel, the window
shuffle and the checkpoint write and resume path; it bypasses the
dedup/text joins and serving.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from harness import WORK, Recorder, Tally

# one parquet file per synth partition; README.md shows how the pass
# time splits into a part that grows with the clips and a fixed part
PARTITIONS = 16
CLIPS_PER_PARTITION = 800
SR_HZ = 8000


def drift_expectation(spec, column: str = "dur_ms", bins: int = 20, psi: float = 0.25,
                      ks: float = 0.2, tolerance: float = 0.1) -> tuple[set, set]:
    """(partitions the drift rule must flag, partitions it must not),
    from the rule's PSI and KS (functions/stats.drift_scores: fixed bins
    over the global range, Laplace-smoothed shares, per-bin median
    baseline) recomputed here with numpy from the synth plan. A partition
    that scores within `tolerance` of a threshold is in neither set."""
    from use_case_real_time_anomaly_detection_spark.sources.synth import (
        partition_tag,
        plan_partition,
    )

    values = {}
    for p in range(spec.partitions):
        plan = plan_partition(p, spec)
        # a planted duplicate is a second, identical row of the clip table
        values[partition_tag(p)] = np.concatenate(
            [plan[column].to_numpy(float), plan.loc[plan["dup"], column].to_numpy(float)])
    lo = min(v.min() for v in values.values())
    hi = max(v.max() for v in values.values())
    width = (hi - lo) / bins if hi > lo else 1.0 / bins
    tags = sorted(values)
    counts = np.array([
        np.bincount(np.clip(np.floor((values[t] - lo) / width), 0, bins - 1).astype(int),
                    minlength=bins)
        for t in tags
    ], dtype=float)
    frac = (counts + 0.5) / (counts.sum(axis=1, keepdims=True) + 0.5 * bins)
    base = np.median(frac, axis=0)
    base /= base.sum()
    # the larger of the two scores, each as a share of its threshold
    score = np.maximum(((frac - base) * np.log(frac / base)).sum(axis=1) / psi,
                       np.abs(frac.cumsum(axis=1) - base.cumsum()).max(axis=1) / ks)
    return ({t for t, x in zip(tags, score) if x > 1 + tolerance},
            {t for t, x in zip(tags, score) if x < 1 - tolerance})


class ClipsValidate:
    name = "clips_validate"

    def __init__(self, seed: int):
        from use_case_real_time_anomaly_detection_spark.sources.synth import (
            SynthSpec,
            frontier_of,
            partition_tag,
        )

        self.seed = seed
        self.spec = SynthSpec(
            seed=seed,
            partitions=PARTITIONS,
            clips_per_partition=CLIPS_PER_PARTITION,
            sr_hz=SR_HZ,
        )
        self.frontier = frontier_of(self.spec)
        self.tags = {partition_tag(p) for p in range(PARTITIONS)}
        self.planted = {
            "drift-dur_ms": {partition_tag(self.spec.drift_partition)},
            "drift-sr_hz": {partition_tag(self.spec.sr_drift_partition)},
            "timeout": {partition_tag(self.spec.stopped_partition % PARTITIONS)},
        }
        self.dur_flagged, self.dur_clean = drift_expectation(self.spec)
        self.runs: list[tuple] = []  # (lineage rows, run id, resumed run id) to check
        self.reference_counts: dict | None = None
        self.n_stores = 0

    def setup(self, spark) -> None:
        from use_case_real_time_anomaly_detection_spark.sources.synth import (
            generate_clips,
            generate_manifest,
        )

        generate_clips(spark, self.spec).write.parquet(str(WORK / "clips"))
        generate_manifest(spark, self.spec).write.parquet(str(WORK / "manifest"))
        self.rebind(spark)

    def rebind(self, spark) -> None:
        self.spark = spark
        self.clips = spark.read.parquet(str(WORK / "clips"))
        self.manifest = spark.read.parquet(str(WORK / "manifest"))

    def close(self) -> None:
        """Nothing outlives the Spark context."""

    def _store(self):
        from use_case_real_time_anomaly_detection_spark.sources.tables import get_catalog
        from use_case_real_time_anomaly_detection_spark.streaming.checkpoint import (
            CheckpointStore,
        )

        self.n_stores += 1
        return CheckpointStore(
            get_catalog(self.spark, str(WORK / f"checkpoint-{self.n_stores}"))
        )

    def _pass(self, rec: Recorder, store, call: str, skip=None) -> str:
        """validate_clips, then its violations computed, then record_run;
        returns the run id. validate_clips(persist=True) only marks the
        violations for caching, so counting them runs the validation and
        fills the cache, and record_run times the checkpoint write alone."""
        from use_case_real_time_anomaly_detection_spark.plans.clips import (
            default_rules,
            validate_clips,
        )
        from use_case_real_time_anomaly_detection_spark.session import release_pinned

        with rec.span(f"{call}operators.validate_clips"):
            result = validate_clips(
                self.clips, self.manifest, frontier=self.frontier,
                rules=default_rules(seed=self.seed), persist=True,
                skip_partitions=skip,
            )
        with rec.span(f"{call}functions.violations"):
            result.cached.count()
        with rec.span(f"{call}checkpoint.record_run"):
            store.record_run(result, frontier=self.frontier)
        result.unpersist()
        release_pinned(self.spark)
        return result.run_id

    def measure(self, seconds: float, rec: Recorder, tally: Tally) -> dict:
        """One job run in a fresh session, as spark-submit runs
        runner.py: the pass pays the JIT and code generation that every
        scheduled run pays. It takes longer than `seconds` at this
        commit; a run never measures a second, warmer pass, so that a
        faster job cannot change what is measured."""
        first = len(rec.spans)
        store = self._store()
        run_id = self._pass(rec, store, "")
        with rec.span("resume.checkpoint.completed_partitions"):
            done = store.completed_partitions(self.frontier)
        resumed_id = self._pass(rec, store, "resume.", skip=done)
        took = {s.name.split(".", 1)[1]: s.seconds for s in rec.spans[first:]}
        with rec.span("checkpoint.lineage"):
            rows = [r.asDict() for r in store.lineage().collect()]
        self.runs.append((rows, run_id, resumed_id))
        # clips validated, as runner.py reports it: one detector's
        # rows_checked summed over the partitions
        n_clips = sum(r["rows_checked"] for r in rows
                      if r["run_id"] == run_id and r["detector"] == "out-of-range")
        pass_s = sum(took[c] for c in (
            "operators.validate_clips", "functions.violations", "checkpoint.record_run"))
        return {
            "primary_s": pass_s,
            "secondary_s": sum(v for k, v in took.items() if k.startswith("resume.")),
            "persist_s": took["checkpoint.record_run"],
            "clips.clips_per_s": n_clips / pass_s,
            "clips": n_clips,
        }

    def check_outputs(self, rec: Recorder, tally: Tally) -> None:
        """For every pass measured since the last check: the verdict grid
        is partitions x detectors; the planted faults are flagged; the
        resumed pass records nothing; the per-detector counts equal those
        of the run's first checked pass (a traced run checks two)."""
        for rows, run_id, resumed_id in self.runs:
            self._check(rows, run_id, resumed_id, tally)
        self.runs = []

    def _check(self, rows: list, run_id: str, resumed_id: str, tally: Tally) -> None:
        first = [r for r in rows if r["run_id"] == run_id]
        resumed = [r for r in rows if r["run_id"] == resumed_id]
        detectors = {r["detector"] for r in first}
        grid = {(r["partition_key"], r["detector"]) for r in first}
        tally.check(
            len(first) == len(grid) == len(self.tags) * len(detectors)
            and {r["partition_key"] for r in first} == self.tags,
            f"verdict grid has {len(first)} rows for {len(self.tags)} partitions"
            f" x {len(detectors)} detectors",
        )
        for det, want in self.planted.items():
            got = {r["partition_key"] for r in first
                   if r["detector"] == det and r["violation_count"] > 0}
            if det == "drift-dur_ms":
                # every partition's durations are a seeded random walk,
                # which can itself move a partition's histogram across a
                # bin edge far enough for the rule to flag it
                ok = (want | self.dur_flagged) <= got and not got & self.dur_clean
            else:
                ok = got == want
            tally.check(ok, f"{det} flagged {sorted(got)}, planted {sorted(want)}")
        tally.check(not resumed, f"resumed pass recorded {len(resumed)} verdicts")
        counts = Counter()
        for r in first:
            counts[r["detector"]] += r["violation_count"]
        if self.reference_counts is None:
            self.reference_counts = dict(counts)
        else:
            tally.check(dict(counts) == self.reference_counts,
                        "per-detector violation counts differ between passes")

    def warm_headline(self, untraced: dict) -> float:
        """The traced pass runs in a warm JVM, so tracing overhead is
        measured against a second, equally warm untraced pass rather
        than the run's cold one (`untraced`)."""
        rec = Recorder(self.name, self.spark)
        self._pass(rec, self._store(), "")
        return sum(s.seconds for s in rec.spans)

    def layers(self, rows: dict) -> dict:
        from ledger import per_call, rollup

        call = f"{self.name}."
        resume = [r for k, r in rows.items() if k.startswith(call + "resume.")]
        return {
            "driver.build_s": per_call(rows, call + "operators.validate_clips", "wall_s"),
            "driver.build_jobs": per_call(rows, call + "operators.validate_clips", "jobs"),
            "functions.violations_s": per_call(rows, call + "functions.violations", "wall_s"),
            "persist.call_s": per_call(rows, call + "checkpoint.record_run", "wall_s"),
            "persist.jobs": per_call(rows, call + "checkpoint.record_run", "jobs"),
            "checkpoint.completed_partitions_s": per_call(
                rows, call + "resume.checkpoint.completed_partitions", "wall_s"),
            "checkpoint.resume_tasks": sum(r["tasks"] for r in resume),
            "checkpoint.resume_jobs": sum(r["jobs"] for r in resume),
            **rollup(rows, call),
        }
